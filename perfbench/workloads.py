"""The three closed-loop workloads: one client, next call only after the
previous one returns.

Each workload owns its inputs (made by ``prepare`` before any session
exists), a warm-up slice, one loop iteration of timed public calls, the
untimed correctness checks and, for the traced run, the single-layer
measurements of its layers.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pycuda_raster_spark.fixtures import golden_knn, golden_pip, point_in_ring
from pycuda_raster_spark.functions import cellindex, codecs, focal_kernels
from pycuda_raster_spark.functions.codecs import NODATA

from . import inputs

TILE_ROWS = 64
N_BUCKETS = 16
KNN_K = 3
RANGE_RADIUS = 4.0
LSH_THRESHOLD = 0.5
ANN_K = 10
ANN_NPROBE = 4
SLIM = ["image_id", "tile_y", "ty0", "th", "w", "x0", "y0", "cellsize",
        "pn", "ps", "pss", "pmin", "pmax"]


def _rm(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def _rate(fn, min_s: float = 0.3) -> float:
    """Calls per second of ``fn`` over at least ``min_s`` seconds."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt


# --------------------------------------------------------------- checks ----


def zonal_recount(images_path: str, zones: list[dict]) -> dict[int, int]:
    """zone -> valid pixel count, recomputed in NumPy from the decoded
    images: each 64-row tile's valid pixels go to every zone whose ring
    holds the tile centroid (the engine's zonal rule)."""
    t = pq.read_table(images_path).to_pylist()
    cx, cy, npx = [], [], []
    for r in t:
        g = codecs.decode(r["bytes"], r["fmt"], r["w"], r["h"])
        for ty0 in range(0, r["h"], TILE_ROWS):
            th = min(TILE_ROWS, r["h"] - ty0)
            cx.append(r["x0"] + r["w"] / 2.0 * r["cellsize"])
            cy.append(r["y0"] + (ty0 + th / 2.0) * r["cellsize"])
            npx.append(int((g[ty0:ty0 + th] != NODATA).sum()))
    cx, cy, npx = np.array(cx), np.array(cy), np.array(npx)
    out = {}
    for z in zones:
        hit = point_in_ring(cx, cy, z["ring"])
        if hit.any():
            out[int(z["zone_id"])] = int(npx[hit].sum())
    return out


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def ivf_reference(emb: np.ndarray, ids: np.ndarray, qids: list[int],
                  cents: np.ndarray, k: int, nprobe: int) -> set[tuple]:
    """(query, vec, rank) of the IVF probe, re-derived in NumPy."""
    m = emb.astype(np.float64)
    m = m / np.where(np.linalg.norm(m, axis=1, keepdims=True) == 0, 1.0,
                     np.linalg.norm(m, axis=1, keepdims=True))
    bucket = (m @ cents.T).argmax(axis=1)
    pos = {int(v): i for i, v in enumerate(ids)}
    out = set()
    for q in qids:
        qv = m[pos[q]]
        probes = np.argsort(-(qv @ cents.T), kind="stable")[:nprobe]
        cand = np.flatnonzero(np.isin(bucket, probes))
        sc = m[cand] @ qv
        order = sorted(range(len(cand)), key=lambda j: (-sc[j], int(ids[cand[j]])))
        out.update((q, int(ids[cand[j]]), r + 1) for r, j in enumerate(order[:k]))
    return out


class Checks:
    """Named pass/fail results; a failure counts in ``failed``."""

    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def add(self, name: str, ok: bool, detail: str = "") -> None:
        self.results.append((name, bool(ok), detail))

    @property
    def failed(self) -> int:
        return sum(not ok for _, ok, _ in self.results)


# ------------------------------------------------------------ workloads ----


class Workload:
    name = ""
    calls: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int, sizes: inputs.Sizes, nproc: int):
        self.work, self.seed, self.sz, self.nproc = work, seed, sizes, nproc
        self.inp = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        os.makedirs(self.inp, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)

    def prepare(self) -> None:
        """Write the seeded inputs (no Spark)."""

    def bind(self, spark) -> None:
        """Create the DataFrames over the inputs for a new session."""

    def materialize(self, spark) -> None:
        """Engine-made inputs, built once after the first session starts."""

    def warm(self, spark) -> None:
        """Warm-up slice: spawn workers, compile the workload's plans."""

    def iterate(self, spark, tracer, i: int) -> dict[str, float]:
        raise NotImplementedError

    def check(self, spark, checks: Checks) -> None:
        raise NotImplementedError

    def layers(self, spark, tracer) -> dict[str, float]:
        return {}

    def _call(self, tracer, name, fn):
        with tracer.span(name) as s:
            r = fn()
        return r, s.dur


class Ingest(Workload):
    """decode -> tile+halo -> Horn -> parquet sink -> manifest -> zonal."""

    name = "ingest"
    calls = ("pipeline.fresh", "pipeline.resume")

    def prepare(self):
        self.images_path = os.path.join(self.inp, "images.parquet")
        inputs.write_images(self.images_path, self.seed, self.sz)
        self.zones = inputs.build_zones(self.seed, self.sz.zones)
        self.zones_path = os.path.join(self.inp, "zones.parquet")
        inputs.write_rows(self.zones_path, self.zones, inputs.ZONES_SCHEMA)
        self.mpx = self.sz.images * self.sz.edge ** 2 / 1e6
        self.tiles_per_image = math.ceil(self.sz.edge / TILE_ROWS)
        self.last: dict = {}
        self.resume_summaries: list[dict] = []
        self.manifest_rows: tuple[int, int] | None = None

    def bind(self, spark):
        from pycuda_raster_spark.sources import catalog

        self.images = catalog.read(spark, self.images_path)
        self.zones_df = catalog.read(spark, self.zones_path)

    def warm(self, spark):
        from pycuda_raster_spark.plans.pipeline import run_pipeline

        d = os.path.join(self.out, "warm")
        for _ in range(2):  # fresh, then resume
            run_pipeline(spark, self.images.limit(2), d, zones=self.zones_df,
                         tile_rows=TILE_ROWS, n_buckets=N_BUCKETS)
        _rm(d)

    def _manifest_rows(self, d: str) -> int:
        return ds.dataset(os.path.join(d, "manifest"), format="parquet").count_rows()

    def iterate(self, spark, tracer, i):
        from pycuda_raster_spark.plans.pipeline import run_pipeline

        if self.last:
            _rm(self.last["dir"])
        d = os.path.join(self.out, f"run{i}")

        def run():
            # resume=True (the default) both times: the first call starts
            # from an empty directory, the second finds every bucket done
            return run_pipeline(spark, self.images, d, zones=self.zones_df,
                                tile_rows=TILE_ROWS, n_buckets=N_BUCKETS)

        fresh, t_fresh = self._call(tracer, "pipeline.fresh", run)
        rows_before = self._manifest_rows(d) if i == 0 else None
        resumed, t_resume = self._call(tracer, "pipeline.resume", run)
        if i == 0:
            self.manifest_rows = (rows_before, self._manifest_rows(d))
        self.resume_summaries.append(resumed)
        tile_bytes = dir_bytes(os.path.join(d, "tiles"))
        self.last = {"dir": d, "fresh": fresh, "tile_bytes": tile_bytes}
        return {"pipeline.fresh": t_fresh, "pipeline.resume": t_resume,
                "mpx_per_s": self.mpx / t_fresh, "resume_noop_s": t_resume,
                "tile_bytes_per_px": tile_bytes / (self.mpx * 1e6)}

    def check(self, spark, checks):
        d, fresh = self.last["dir"], self.last["fresh"]
        want = self.sz.images * self.tiles_per_image
        checks.add("ingest.tile_count", fresh["tile_rows_written"] == want,
                   f"{fresh['tile_rows_written']} vs {want}")
        imgs = pq.read_table(self.images_path).to_pylist()
        # one sample per codec plus a nodata image, whole-grid oracle
        picks: dict[str, dict] = {}
        for j, r in enumerate(imgs):
            picks.setdefault(r["fmt"], r)
            if j % inputs.NODATA_EVERY == inputs.NODATA_EVERY - 1:
                picks.setdefault("nodata", r)
        ids = [r["image_id"] for r in picks.values()]
        tiles = ds.dataset(os.path.join(d, "tiles"), format="parquet",
                           partitioning="hive").to_table(
            columns=["image_id", "ty0", "th", "slope", "aspect", "hillshade"],
            filter=ds.field("image_id").isin(ids)).to_pylist()
        bad = 0
        for r in picks.values():
            g = codecs.decode(r["bytes"], r["fmt"], r["w"], r["h"])
            ref = focal_kernels.oracle_whole_grid(g, r["cellsize"])
            mine = [t for t in tiles if t["image_id"] == r["image_id"]]
            bad += len(mine) != self.tiles_per_image
            for t in mine:
                sl = slice(t["ty0"], t["ty0"] + t["th"])
                for p in ("slope", "aspect", "hillshade"):
                    want_b = np.ascontiguousarray(ref[p][sl], dtype="<f4").tobytes()
                    bad += t[p] != want_b
        checks.add("ingest.tiles_match_whole_grid_oracle", bad == 0,
                   f"{bad} mismatches over {len(ids)} images")
        got = {int(r["zone_id"]): int(r["n_px"]) for r in
               pq.read_table(os.path.join(d, "zonal")).to_pylist()}
        ref_z = zonal_recount(self.images_path, self.zones)
        checks.add("ingest.zonal_n_px", got == ref_z,
                   f"{len(got)} zones vs {len(ref_z)} recounted")
        noop = all(not s["buckets_processed"] and s["tile_rows_written"] == 0
                   for s in self.resume_summaries)
        checks.add("ingest.resume_processes_no_bucket", noop,
                   f"{len(self.resume_summaries)} resumes")
        a, b = self.manifest_rows
        checks.add("ingest.resume_adds_no_manifest_rows", a == b and a > 0,
                   f"{a} -> {b}")

    def layers(self, spark, tracer):
        from pycuda_raster_spark.operators.focal import decode_focal_arrow
        from pycuda_raster_spark.sources import catalog
        from pycuda_raster_spark.streaming import manifest as mf

        out: dict[str, float] = {}
        imgs = pq.read_table(self.images_path).to_pylist()
        by_fmt = {}
        for r in imgs:
            by_fmt.setdefault(r["fmt"], r)
        with tracer.span("codecs.decode"):
            for fmt, r in by_fmt.items():
                rate = _rate(lambda: codecs.decode(r["bytes"], fmt, r["w"], r["h"]))
                out[f"codecs.decode_{fmt}_mpx_s"] = rate * r["w"] * r["h"] / 1e6
        grid = codecs.decode(imgs[0]["bytes"], imgs[0]["fmt"], imgs[0]["w"], imgs[0]["h"])
        with tracer.span("focal_kernels.horn"):
            rate = _rate(lambda: focal_kernels.horn_products(grid, 1.0))
        out["focal_kernels.horn_mpx_s"] = rate * grid.size / 1e6
        # single-thread seconds for the corpus, spread over the cores
        st = sum(r["w"] * r["h"] / 1e6 / out[f"codecs.decode_{r['fmt']}_mpx_s"]
                 for r in imgs) + self.mpx / out["focal_kernels.horn_mpx_s"]
        with tracer.span("focal.products") as sp:
            _noop(decode_focal_arrow(self.images, tile_rows=TILE_ROWS))
        with tracer.span("focal.partials") as spa:
            _noop(decode_focal_arrow(self.images, tile_rows=TILE_ROWS, products=()))
        out["focal.products_s"] = sp.dur
        out["focal.partials_s"] = spa.dur
        out["focal.compute_share"] = st / self.nproc / sp.dur
        self.products_span = sp.id
        d = self.last["dir"]
        tiles = os.path.join(d, "tiles")
        rewrite = os.path.join(self.out, "rewrite")
        with tracer.span("catalog.write") as sw:
            catalog.write(catalog.read(spark, tiles), rewrite,
                          partition_by=["bucket"], mode="overwrite")
        out["catalog.write_s"] = sw.dur
        _rm(rewrite)
        out["catalog.bytes_written"] = float(self.last["tile_bytes"])
        with tracer.span("manifest.completed") as sm:
            mf.completed(spark, os.path.join(d, "manifest"), "focal").collect()
        out["manifest.completed_s"] = sm.dur
        return out


class Spatial(Workload):
    """PIP / kNN / range joins and zonal stats over a persisted tile table."""

    name = "spatial"
    calls = ("spatial.pip", "spatial.knn", "spatial.range", "zonal.query")

    def prepare(self):
        self.points = inputs.build_points(self.seed, self.sz.points)
        self.sites = inputs.sites_of(self.points)
        self.zones = inputs.build_zones(self.seed, self.sz.zones)
        self.paths = {k: os.path.join(self.inp, f"{k}.parquet")
                      for k in ("points", "sites", "zones")}
        for k, rows, schema in (("points", self.points, inputs.POINTS_SCHEMA),
                                ("sites", self.sites, inputs.SITES_SCHEMA),
                                ("zones", self.zones, inputs.ZONES_SCHEMA)):
            inputs.write_rows(self.paths[k], rows, schema)
        self.images_path = os.path.join(self.inp, "images.parquet")
        inputs.write_images(self.images_path, self.seed, self.sz)
        self.tiles = os.path.join(self.inp, "tiles")
        self.last: dict = {}

    def bind(self, spark):
        from pycuda_raster_spark.sources import catalog

        self.points_df, self.sites_df, self.zones_df = (
            catalog.read(spark, self.paths[k]) for k in ("points", "sites", "zones"))

    def materialize(self, spark):
        """The ingest tile table, persisted once."""
        from pycuda_raster_spark.plans.pipeline import run_pipeline
        from pycuda_raster_spark.sources import catalog

        d = os.path.join(self.inp, "ingest")
        run_pipeline(spark, catalog.read(spark, self.images_path), d,
                     tile_rows=TILE_ROWS, n_buckets=N_BUCKETS)
        os.rename(os.path.join(d, "tiles"), self.tiles)
        _rm(d)

    def _zonal(self, spark):
        from pycuda_raster_spark.operators.zonal import zonal_stats_from_partials
        from pycuda_raster_spark.sources import catalog

        parts = catalog.read(spark, self.tiles).select(*SLIM)
        return zonal_stats_from_partials(parts, self.zones_df, res=inputs.ZONE_RES)

    def _queries(self, spark, points, sites):
        from pycuda_raster_spark.operators.spatial import knn_join, pip_join, range_join

        res = inputs.ZONE_RES
        return {
            "spatial.pip": lambda: pip_join(points, self.zones_df, res=res).collect(),
            "spatial.knn": lambda: knn_join(points, sites, k=KNN_K, res=res).collect(),
            "spatial.range": lambda: range_join(points, sites, RANGE_RADIUS,
                                                res=res).collect(),
            "zonal.query": lambda: self._zonal(spark).collect(),
        }

    def warm(self, spark):
        for fn in self._queries(spark, self.points_df.limit(50),
                                self.sites_df.limit(10)).values():
            fn()

    def iterate(self, spark, tracer, i):
        t = {}
        for name, fn in self._queries(spark, self.points_df, self.sites_df).items():
            self.last[name], t[name] = self._call(tracer, name, fn)
        return {**t, "pip_s": t["spatial.pip"], "knn_s": t["spatial.knn"],
                "range_s": t["spatial.range"], "zonal_s": t["zonal.query"]}

    def check(self, spark, checks):
        pip = {(r.point_id, r.zone_id) for r in self.last["spatial.pip"]}
        gold = golden_pip(self.points, self.zones)
        checks.add("spatial.pip_equals_golden", pip == gold,
                   f"{len(pip)} vs {len(gold)} pairs")
        sites = [{"id": s["site_id"], "x": s["x"], "y": s["y"]} for s in self.sites]
        gk = golden_knn(self.points, sites, KNN_K)
        knn = sorted((r.point_id, r.rank, r.site_id, r.dist) for r in self.last["spatial.knn"])
        gk = sorted((p, r, s, d) for p, s, r, d in gk)
        ok = len(knn) == len(gk) and all(
            a[:3] == b[:3] and abs(a[3] - b[3]) <= 1e-9 for a, b in zip(knn, gk))
        checks.add("spatial.knn_equals_golden", ok, f"{len(knn)} vs {len(gk)} rows")
        px = np.array([p["x"] for p in self.points])
        py = np.array([p["y"] for p in self.points])
        sx = np.array([s["x"] for s in self.sites])
        sy = np.array([s["y"] for s in self.sites])
        dx, dy = px[:, None] - sx[None, :], py[:, None] - sy[None, :]
        ii, jj = np.nonzero(np.sqrt(dx * dx + dy * dy) <= RANGE_RADIUS)
        ref = {(self.points[a]["point_id"], self.sites[b]["site_id"]) for a, b in zip(ii, jj)}
        got = {(r.point_id, r.site_id) for r in self.last["spatial.range"]}
        checks.add("spatial.range_equals_brute_force", got == ref,
                   f"{len(got)} vs {len(ref)} pairs")
        zon = {int(r.zone_id): int(r.n_px) for r in self.last["zonal.query"]}
        ref_z = zonal_recount(self.images_path, self.zones)
        checks.add("spatial.zonal_n_px", zon == ref_z, f"{len(zon)} zones")

    def layers(self, spark, tracer):
        from pycuda_raster_spark.operators.zonal import zonal_stats_from_partials
        from pycuda_raster_spark.sources import catalog

        out: dict[str, float] = {}
        res = inputs.ZONE_RES
        px = np.array([p["x"] for p in self.points])
        py = np.array([p["y"] for p in self.points])
        cells = np.array([p["cell"] for p in self.points], dtype=np.int64)
        # filter-and-refine waste, from the inputs
        cand = sum(int(np.isin(cells, z["cover_cells"]).sum()) for z in self.zones)
        exact = sum(int(point_in_ring(px, py, z["ring"]).sum()) for z in self.zones)
        out["spatial.pip_refine_ratio"] = exact / max(cand, 1)
        site_cells = np.array([s["cell"] for s in self.sites], dtype=np.int64)
        uniq, cnt = np.unique(site_cells, return_counts=True)
        per_cell = dict(zip(uniq.tolist(), cnt.tolist()))
        ring = cellindex.kring(cells, 1)
        n_cand = np.array([sum(per_cell.get(int(c), 0) for c in set(row.tolist()))
                           for row in ring])
        out["spatial.knn_cand_per_query"] = float(n_cand.mean())
        out["spatial.knn_useful_ratio"] = KNN_K / float(n_cand.mean())
        big_x = np.random.default_rng(self.seed).uniform(0, cellindex.WORLD, (2, 1_000_000))
        with tracer.span("cellindex.cell"):
            rate = _rate(lambda: cellindex.cell(big_x[0], big_x[1], res))
        out["cellindex.cell_mpts_s"] = rate
        with tracer.span("catalog.read_partials") as sr:
            _noop(catalog.read(spark, self.tiles).select(*SLIM))
        out["catalog.read_partials_s"] = sr.dur
        parts = catalog.read(spark, self.tiles).select(*SLIM).cache()
        try:
            parts.count()
            with tracer.span("zonal.from_partials") as sz:
                zonal_stats_from_partials(parts, self.zones_df, res=res).collect()
        finally:
            parts.unpersist()
        out["zonal.from_partials_s"] = sz.dur
        return out


class Dedup(Workload):
    """MinHash-LSH near-duplicate pairs and IVF top-k."""

    name = "dedup"
    calls = ("dedup.lsh", "similarity.ann")

    def prepare(self):
        self.docs_path = os.path.join(self.inp, "documents.parquet")
        self.emb_path = os.path.join(self.inp, "embeddings.parquet")
        inputs.write_documents(self.docs_path, self.seed, self.sz.docs)
        inputs.write_embeddings(self.emb_path, self.seed, self.sz.vectors, self.sz.dim)
        self.qids = inputs.query_ids(self.seed, self.sz.vectors, self.sz.queries)
        self.cents = inputs.centroids(self.seed, self.sz.dim)
        self.last: dict = {}

    def bind(self, spark):
        from pyspark.sql import functions as F

        from pycuda_raster_spark.sources import catalog

        self.docs = catalog.read(spark, self.docs_path)
        self.emb = catalog.read(spark, self.emb_path)
        self.queries = self.emb.filter(F.col("vec_id").isin(self.qids))

    def _calls(self, docs, emb):
        from pycuda_raster_spark.operators.dedup import minhash_lsh_pairs
        from pycuda_raster_spark.operators.similarity import ivf_assign, ivf_topk

        return {
            "dedup.lsh": lambda: minhash_lsh_pairs(
                docs, jaccard_threshold=LSH_THRESHOLD).collect(),
            "similarity.ann": lambda: ivf_topk(
                ivf_assign(emb, self.cents), self.queries, self.cents,
                k=ANN_K, nprobe=ANN_NPROBE).collect(),
        }

    def warm(self, spark):
        for fn in self._calls(self.docs.limit(100), self.emb.limit(100)).values():
            fn()

    def iterate(self, spark, tracer, i):
        t = {}
        for name, fn in self._calls(self.docs, self.emb).items():
            self.last[name], t[name] = self._call(tracer, name, fn)
        return {**t, "lsh_s": t["dedup.lsh"], "ann_s": t["similarity.ann"]}

    def check(self, spark, checks):
        docs = {r["doc_id"]: r["text"] for r in pq.read_table(self.docs_path).to_pylist()}
        sh = {}
        bad = 0
        pairs = self.last["dedup.lsh"]
        for r in pairs:
            a = sh.setdefault(r.id_a, shingles(docs[r.id_a]))
            b = sh.setdefault(r.id_b, shingles(docs[r.id_b]))
            j = len(a & b) / len(a | b)
            bad += not (r.id_a < r.id_b and j >= LSH_THRESHOLD and abs(j - r.jaccard) <= 1e-12)
        dup = len(pairs) - len({(r.id_a, r.id_b) for r in pairs})
        checks.add("dedup.lsh_precision_is_1", bad == 0 and dup == 0 and len(pairs) > 0,
                   f"{len(pairs)} pairs, {bad} false, {dup} repeated")
        t = pq.read_table(self.emb_path)
        ids = t.column("vec_id").to_numpy()
        emb = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
        ref = ivf_reference(emb, ids, self.qids, self.cents, ANN_K, ANN_NPROBE)
        got = {(r.query_id, r.vec_id, r.rank) for r in self.last["similarity.ann"]}
        checks.add("similarity.ivf_equals_numpy", got == ref,
                   f"{len(got)} vs {len(ref)} rows")

    def layers(self, spark, tracer):
        from pycuda_raster_spark.operators.similarity import ivf_assign, ivf_topk

        out: dict[str, float] = {}
        with tracer.span("similarity.ivf_assign") as sa:
            _noop(ivf_assign(self.emb, self.cents))
        out["similarity.ivf_assign_s"] = sa.dur
        assigned = ivf_assign(self.emb, self.cents).cache()
        try:
            assigned.count()
            with tracer.span("similarity.ivf_topk") as st:
                ivf_topk(assigned, self.queries, self.cents, k=ANN_K,
                         nprobe=ANN_NPROBE).collect()
        finally:
            assigned.unpersist()
        out["similarity.ivf_topk_s"] = st.dur
        out["dedup.lsh_pairs"] = float(len(self.last["dedup.lsh"]))
        return out


class Query(Workload):
    """The read, join and shuffle path: the spatial calls, then the dedup
    calls, each iteration. No decode and no kernel runs here."""

    name = "query"
    calls = Spatial.calls + Dedup.calls

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = (Spatial(*args), Dedup(*args))

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def bind(self, spark):
        for p in self.parts:
            p.bind(spark)

    def materialize(self, spark):
        for p in self.parts:
            p.materialize(spark)

    def warm(self, spark):
        for p in self.parts:
            p.warm(spark)

    def iterate(self, spark, tracer, i):
        out = {}
        for p in self.parts:
            out.update(p.iterate(spark, tracer, i))
        return out

    def check(self, spark, checks):
        for p in self.parts:
            p.check(spark, checks)

    def layers(self, spark, tracer):
        out = {}
        for p in self.parts:
            out.update(p.layers(spark, tracer))
        return out


WORKLOADS = {w.name: w for w in (Ingest, Query)}

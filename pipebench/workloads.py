"""The benchmark's workloads.  Each one generates its inputs (untimed), sets the
library up, runs one untimed first pass, then runs a closed loop of
operations (and reads) for the requested seconds, and finally checks the
outputs against an independent decision procedure.

Traced runs expand each operation into the same public calls the
library makes, forced one by one inside spans (see README.md)."""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import nullcontext

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds
from pyspark import StorageLevel
from pyspark.sql import functions as F

from osmgraft import cells, closure, geometry, jobs, join, sources, store, synth, tiles
from osmgraft.extract import extract_entities
from osmgraft.queries import pip_sql

import gen
from measure import tree_bytes

SAMPLE = 2000  # points per correctness sample
KERNEL_SAMPLE = 4000  # candidate pairs fed to geometry.pip_matches


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def table_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def read_pandas(path: str, columns=None):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def manifest(root: str) -> dict:
    """The current snapshot manifest, read from the files directly rather
    than through the store under test."""
    with open(os.path.join(root, "_manifests", "CURRENT")) as f:
        v = int(f.read().strip())
    with open(os.path.join(root, "_manifests", f"v{v}.json")) as f:
        return json.load(f)


def table_path(root: str, table: str) -> str:
    return manifest(root)["tables"][table]["path"]


def oracle_matches(points, polys=None) -> set:
    """(id, boundary_id) pairs from the DuckDB ray-cast oracle the
    operator tests use; ``points`` is a pandas frame (id, lon_e7, lat_e7)."""
    con = duckdb.connect()
    try:
        con.register("sample_pts", points)
        rows = con.execute(
            pip_sql("SELECT id, lon_e7, lat_e7 FROM sample_pts", "id", polys=polys)
        ).fetchall()
    finally:
        con.close()
    return {(int(i), int(b)) for i, b in rows}


def join_probes(tr, spark, points, polys, seed) -> None:
    """Cover build, cell encode, candidate count of the cover join and the
    refine kernel, each in its own span.  Candidates are the point-cell x
    cover equi-join rows plus one row per point and segment-less polygon:
    what ``join.spatial_join`` hands to its refine."""
    level = join.DEFAULT_COVER_LEVEL
    with tr.span("join.cover") as c:
        cov = join.cover_df(spark, polys, level).persist()
        c["cells"] = cov.count()
    with tr.span("cells.encode"):
        pt = points.select(
            "lon_e7", "lat_e7",
            cells.lonlat_cell_col(F.col("lon_e7"), F.col("lat_e7"), level).alias("cell"),
        )
        noop(pt)
    with tr.span("join.candidates") as c:
        cand = pt.join(F.broadcast(cov), "cell").persist()
        per_b = {r["boundary_id"]: r["count"] for r in cand.groupBy("boundary_id").count().collect()}
        n_empty = sum(1 for p in polys if p.n_segments == 0)
        c["rows"] = sum(per_b.values()) + (points.count() * n_empty if n_empty else 0)
        nseg = {p.boundary_id: p.n_segments for p in polys}
        c["segment_tests"] = sum(n * nseg[b] for b, n in per_b.items())
    total = max(1, sum(per_b.values()))
    pairs = (
        cand.sample(fraction=min(1.0, 2.0 * KERNEL_SAMPLE / total), seed=seed)
        .limit(KERNEL_SAMPLE).select("lon_e7", "lat_e7", "boundary_id").toPandas()
    )
    cand.unpersist()
    cov.unpersist()
    by_id = {p.boundary_id: p for p in polys}
    with tr.span("geometry.refine", pairs=len(pairs)):
        for bid, grp in pairs.groupby("boundary_id"):
            geometry.pip_matches(grp["lon_e7"].to_numpy(), grp["lat_e7"].to_numpy(), by_id[int(bid)])


class CutTile:
    """EP1+EP2 (``jobs.run_cut_and_tile``) over replicated synthetic pages
    with the toy boundaries, then seeded viewport reads of the pyramid."""

    name = "cut_tile"
    N_DOCS = 5000
    REPLICATE = 40
    READS_PER_OP = 12

    def __init__(self, ctx):
        self.ctx, self.spark = ctx, ctx.spark
        self.polys = synth.boundaries()
        self.pages = None
        self.features = None
        self.views = None

    def prepare(self) -> dict:
        self.docs = os.path.join(self.ctx.work, "docs")
        doc_ids = gen.write_documents(
            os.path.join(self.docs, "documents.parquet"), self.ctx.seed, self.N_DOCS
        )
        self.n_pages = self.N_DOCS * self.REPLICATE
        self.n_entities = gen.expected_entities(doc_ids, self.REPLICATE)
        return {"documents": self.N_DOCS, "replicate": self.REPLICATE,
                "pages": self.n_pages, "entities": self.n_entities}

    def setup(self) -> None:
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        self.pages = synth.pages_df(self.spark, self.docs, replicate=self.REPLICATE).cache()
        if self.pages.count() != self.n_pages:
            raise RuntimeError("page count differs from the generator's")

    def root(self, i: int) -> str:
        return os.path.join(self.ctx.work, "cut", f"pass-{i}")

    def op(self, i: int) -> tuple[int, bool]:
        res = jobs.run_cut_and_tile(self.spark, self.pages, self.polys, self.root(i))
        return self.n_pages, self._ok(self.root(i), res["tables"]["entities"], res["zoom_histogram"])

    def _ok(self, root, n_entities, hist) -> bool:
        if self.features is None:  # first pass: remember the feature set
            m = read_pandas(table_path(root, "matches"), ["doc_id", "ent_idx", "lon_e7", "lat_e7"])
            self.features = m.drop_duplicates(["doc_id", "ent_idx"])
        return n_entities == self.n_entities and set(hist.values()) == {len(self.features)}

    def traced_op(self, i: int, tr) -> tuple[int, bool, float]:
        """``jobs.run_cut`` and ``jobs.run_tile`` expanded into the public
        calls they make (same order, same arguments), each forced inside
        its own span.  The probes after the pass are not part of it."""
        spark, root = self.spark, self.root(i)
        st = store.SnapshotStore(spark, root)
        t0 = time.perf_counter()
        with tr.span("jobs.cut"):
            with tr.span("extract") as c:
                ents = extract_entities(self.pages).persist(StorageLevel.MEMORY_AND_DISK)
                c["rows"] = ents.count()
            with tr.span("join") as c:
                matches = join.spatial_join(spark, ents, self.polys).select(
                    "url", "doc_id", "ent_idx", "name", "lat_e7", "lon_e7", "boundary_id"
                ).persist(StorageLevel.MEMORY_AND_DISK)
                c["rows"] = matches.count()
            wm = self.pages.agg(F.max("warc_ts").alias("wm")).collect()[0]["wm"]
            with tr.span("store.commit") as c:
                st.commit({"entities": ents.drop("mention"), "matches": matches}, watermark=str(wm), note="cut")
                c["bytes"] = tree_bytes(os.path.join(root, "data"))[0]
        with tr.span("jobs.tile"):
            feats = (
                st.read("matches").select("doc_id", "ent_idx", "lon_e7", "lat_e7").distinct()
                .withColumn("id", F.col("doc_id") * 10 + F.col("ent_idx"))
                .withColumn("minz", F.lit(12)).withColumn("maxz", F.lit(tiles.MAX_ZOOM))
            )
            with tr.span("tiles.explode") as c:
                pyr = tiles.explode_pyramid(feats).select("id", "z", "tile_x", "tile_y").persist()
                c["rows"] = pyr.count()
            out = os.path.join(root, "tiles")
            with tr.span("sources.tile_write") as c:
                sources.write_tile_store(pyr, out)
                c["bytes"], c["files"] = tree_bytes(out)
            with tr.span("tiles.histogram"):
                hist = tiles.zoom_histogram(feats).persist()
                counts = {r["z"]: r["n_features"] for r in hist.collect()}
            with tr.span("store.commit") as c:
                before = tree_bytes(os.path.join(root, "data"))[0]
                st.commit({"zoom_histogram": hist}, watermark=st.watermark(), note="tile:tiles")
                c["bytes"] = tree_bytes(os.path.join(root, "data"))[0] - before
        pass_s = time.perf_counter() - t0
        join_probes(tr, spark, ents, self.polys, self.ctx.seed + i)
        for df in (ents, matches, pyr, hist):
            df.unpersist()
        ok = self._ok(root, st.manifest()["tables"]["entities"]["row_count"], counts)
        return self.n_pages, ok, pass_s

    def _make_views(self) -> None:
        """Screen-sized viewports (4 x 3 tiles of zoom 12..18) centered on
        seeded features, so each read returns at least one row."""
        rng = np.random.default_rng(self.ctx.seed + 1)
        pick = rng.choice(len(self.features), 256, replace=False)
        lons = self.features["lon_e7"].to_numpy()[pick]
        lats = self.features["lat_e7"].to_numpy()[pick]
        self.views = []
        for k, (lon, lat) in enumerate(zip(lons.tolist(), lats.tolist())):
            z = 12 + k % 7
            t = cells.WORLD >> z
            h = int(1.5 * t * np.cos(np.radians(lat / 1e7)))
            self.views.append((z, lon - 2 * t, lat - h, lon + 2 * t, lat + h))

    def reads(self, i: int, tr=None) -> list[tuple[float, bool]]:
        if self.views is None:
            self._make_views()
        path = os.path.join(self.root(i), "tiles")
        out = []
        for j in range(self.READS_PER_OP):
            z, *bbox = self.views[(i * self.READS_PER_OP + j) % len(self.views)]
            with tr.span("sources.viewport") if tr else nullcontext({}) as c:
                t0 = time.perf_counter()
                rows = sources.viewport_query(self.spark, path, z, *bbox).collect()
                dt = time.perf_counter() - t0
                c["rows"] = len(rows)
            out.append((dt, len(rows) == self._view_rows(z, bbox)))
        return out

    def _view_rows(self, z, bbox) -> int:
        """Features whose z-tile lies in the tile range of the viewport,
        counted in numpy from the committed match table."""
        x0, y0, x1, y1 = bbox
        tx0, ty_a = cells.mercator_tile(np.int64(x0), np.int64(y0), z)
        tx1, ty_b = cells.mercator_tile(np.int64(x1), np.int64(y1), z)
        fx, fy = cells.mercator_tile(self.features["lon_e7"].to_numpy(), self.features["lat_e7"].to_numpy(), z)
        return int(((fx >= tx0) & (fx <= tx1) & (fy >= min(ty_a, ty_b)) & (fy <= max(ty_a, ty_b))).sum())

    def stored(self, i: int) -> tuple[int, int]:
        """(bytes, rows) one pass leaves: snapshot tables plus pyramid."""
        root = self.root(i)
        rows = sum(table_rows(table_path(root, t)) for t in ("entities", "matches", "zoom_histogram"))
        rows += table_rows(os.path.join(root, "tiles"))
        return tree_bytes(os.path.join(root, "data"))[0] + tree_bytes(os.path.join(root, "tiles"))[0], rows

    def drop(self, i: int) -> None:
        shutil.rmtree(self.root(i), ignore_errors=True)

    def check(self, i: int) -> list[str]:
        root, errors = self.root(i), []
        ents = read_pandas(table_path(root, "entities"), ["doc_id", "ent_idx", "lon_e7", "lat_e7"])
        if len(ents) != self.n_entities:
            errors.append(f"entities {len(ents)} != {self.n_entities}")
        ents = ents.sample(n=min(SAMPLE, len(ents)), random_state=self.ctx.seed)
        ents["id"] = ents["doc_id"] * 10 + ents["ent_idx"]
        m = read_pandas(table_path(root, "matches"), ["doc_id", "ent_idx", "boundary_id"])
        m["id"] = m["doc_id"] * 10 + m["ent_idx"]
        hit = m[m["id"].isin(ents["id"])]
        got = set(zip(hit["id"].astype(int), hit["boundary_id"].astype(int)))
        want = oracle_matches(ents[["id", "lon_e7", "lat_e7"]])
        if got != want:
            errors.append(f"{len(got ^ want)} sampled match rows differ from the oracle")
        n_feat = len(m.drop_duplicates(["doc_id", "ent_idx"]))
        n_pyr = table_rows(os.path.join(root, "tiles"))
        if n_pyr != n_feat * (tiles.MAX_ZOOM - 12 + 1):
            errors.append(f"pyramid rows {n_pyr} != {n_feat} features x 7 zooms")
        return errors


class OsmCut:
    """The reference's own input path: gzip OSM XML -> node cut against
    ``.poly`` country rings of ~10^4 segments -> way semijoin, way clip,
    relation closure -> one snapshot commit."""

    name = "osm_cut"
    N_NODES = 30_000
    RING_VERTICES = 16_000
    NEAR_SHARE = 0.9
    READS_PER_OP = 12

    def __init__(self, ctx):
        self.ctx, self.spark = ctx, ctx.spark
        self.polys = None

    def prepare(self) -> dict:
        cores = self.ctx.cores
        self.inp = gen.write_osm_inputs(
            self.ctx.work, self.ctx.seed, self.N_NODES, cores, self.RING_VERTICES, self.NEAR_SHARE
        )
        return {"xml_files": cores, "nodes": self.N_NODES, "elements": self.inp["elements"],
                "ring_vertices": self.RING_VERTICES, "rings": 4}

    def setup(self) -> None:
        self.polys = sources.read_polygons(self.inp["poly_dir"])
        if [p.boundary_id for p in self.polys] != [1, 2, 3]:
            raise RuntimeError("unexpected polygon ids")

    def root(self, i: int) -> str:
        return os.path.join(self.ctx.work, "osm_store", f"pass-{i}")

    @staticmethod
    def _frames(elems):
        way_nodes = elems.filter(F.col("entity") == "way").select(
            F.col("id").alias("way_id"), F.posexplode("nodes").alias("seq", "node_id")
        )
        relations = elems.filter(F.col("entity") == "relation").select(
            F.col("id").alias("relation_id"), "members"
        )
        return way_nodes, relations

    def op(self, i: int) -> tuple[int, bool]:
        return self._pass(i, None)[:2]

    def traced_op(self, i: int, tr) -> tuple[int, bool, float]:
        return self._pass(i, tr)

    def _pass(self, i: int, tr) -> tuple[int, bool, float]:
        """One full cut.  Traced, every layer's output is forced inside
        its span; untraced, the semijoin, clip and closure stay lazy
        until the commit writes them, as a caller would leave them."""
        span = tr.span if tr else (lambda name: nullcontext({}))
        spark = self.spark
        t0 = time.perf_counter()
        with span("sources.xml") as c:
            elems = sources.read_osm_xml(spark, self.inp["xml_glob"]).persist(StorageLevel.MEMORY_AND_DISK)
            n_el = c["rows"] = elems.count()
        with span("sources.poly"):
            polys = sources.read_polygons(self.inp["poly_dir"])
        nodes = elems.filter(F.col("entity") == "node").select(
            F.col("id").alias("node_id"), "lon_e7", "lat_e7"
        )
        with span("join") as c:
            node_regions = join.spatial_join(spark, nodes, polys).select(
                "node_id", "boundary_id"
            ).persist(StorageLevel.MEMORY_AND_DISK)
            c["rows"] = node_regions.count()
        way_nodes, relations = self._frames(elems)
        with span("closure.semijoin") as c:
            way_regions = closure.way_region_semijoin(way_nodes, node_regions)
            if tr:
                way_regions = way_regions.persist()
                c["rows"] = way_regions.count()
        with span("closure.clip") as c:
            clip = closure.way_clip_resequence(way_nodes, node_regions)
            if tr:
                clip = clip.persist()
                c["rows"] = clip.count()
        with span("closure.fixpoint") as c:
            rel = closure.relation_closure(relations, node_regions, way_regions)
            if tr:
                c["rows"] = rel.count()
        with span("store.commit") as c:
            st = store.SnapshotStore(spark, self.root(i))
            st.commit({"node_regions": node_regions, "way_regions": way_regions,
                       "way_clip": clip, "relation_regions": rel}, note="osm cut")
            c["bytes"] = tree_bytes(os.path.join(self.root(i), "data"))[0]
        for df in (elems, node_regions, way_regions, clip):
            df.unpersist()
        pass_s = time.perf_counter() - t0
        tables = st.manifest()["tables"]
        ok = (
            n_el == self.inp["elements"]
            and tables["way_regions"]["row_count"] == self.inp["way_regions"]
            and tables["way_clip"]["row_count"] == self.inp["clip_rows"]
            and tables["relation_regions"]["row_count"] == self.inp["closure_rows"]
        )
        if tr:
            join_probes(tr, spark, self._nodes(), polys, self.ctx.seed + i)
        return n_el, ok, pass_s

    def _nodes(self):
        inp = self.inp
        return self.spark.createDataFrame(pd.DataFrame({"lon_e7": inp["node_lon"], "lat_e7": inp["node_lat"]}))

    def reads(self, i: int, tr=None) -> list[tuple[float, bool]]:
        """The committed cut of one country, four reads per country."""
        out = []
        st = store.SnapshotStore(self.spark, self.root(i))
        for j in range(self.READS_PER_OP):
            b = 1 + j % 3
            with tr.span("store.read") if tr else nullcontext({}) as c:
                t0 = time.perf_counter()
                noop(st.read("node_regions").filter(F.col("boundary_id") == b))
                out.append((time.perf_counter() - t0, True))
                c["live_files"] = tree_bytes(table_path(self.root(i), "node_regions"))[1]
                c["retained_bytes"] = tree_bytes(os.path.join(self.root(i), "data"))[0]
        return out

    def stored(self, i: int) -> tuple[int, int]:
        root = self.root(i)
        rows = sum(t["row_count"] for t in manifest(root)["tables"].values())
        return tree_bytes(os.path.join(root, "data"))[0], rows

    def drop(self, i: int) -> None:
        shutil.rmtree(self.root(i), ignore_errors=True)

    def check(self, i: int) -> list[str]:
        root, errors, inp = self.root(i), [], self.inp
        nr = read_pandas(table_path(root, "node_regions"))
        got = set(zip(nr["node_id"].astype(int), nr["boundary_id"].astype(int)))
        # every node whose ring membership is certain by construction
        region = inp["node_region"]
        ids = np.arange(1, region.size + 1)
        sure = region >= 0
        want_sure = {(int(n), int(r)) for n, r in zip(ids[region > 0], region[region > 0])}
        got_sure = {(n, b) for n, b in got if region[n - 1] >= 0}
        if got_sure != want_sure:
            errors.append(f"{len(got_sure ^ want_sure)} certain node matches wrong")
        # a seeded sample of the rest against the DuckDB ray cast
        rng = np.random.default_rng(self.ctx.seed)
        unsure = ids[~sure]
        pick = rng.choice(unsure, min(SAMPLE // 4, unsure.size), replace=False)
        pts = pd.DataFrame({"id": pick, "lon_e7": inp["node_lon"][pick - 1], "lat_e7": inp["node_lat"][pick - 1]})
        want = oracle_matches(pts, self.polys)
        sel = set(int(p) for p in pick)
        if {(n, b) for n, b in got if n in sel} != want:
            errors.append("sampled node matches differ from the oracle")
        for table, key in (("way_regions", "way_regions"), ("way_clip", "clip_rows"),
                           ("relation_regions", "closure_rows")):
            n = table_rows(table_path(root, table))
            if n != inp[key]:
                errors.append(f"{table} rows {n} != {inp[key]} from the generator")
        return errors


WORKLOADS = {w.name: w for w in (CutTile, OsmCut)}

"""Seeded input generators.  Everything here runs before the clock starts
and writes plain files (parquet, gzip OSM XML, ``.poly``) that the
library then reads through its public functions.

The generators also return what they know by construction (row counts,
which nodes certainly lie inside which ring), so the correctness check
does not have to trust the program's own output."""

from __future__ import annotations

import gzip
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

E7 = 10_000_000

_WORDS = (
    "spark line column order small sort fast value scan hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "vector join index tile cell map ring node way relation page text parse"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]


def write_documents(path: str, seed: int, n_docs: int) -> np.ndarray:
    """``documents(doc_id, text, lang, source, n_chars)`` in the shape of
    the ``documents`` table of the repository's test data.  The seed picks the doc_id range (and with it
    every derived point, see ``osmgraft.synth``) and the text.  doc_ids
    stay below 2.6M so ``synth``'s int64 point hashes cannot overflow at
    600x replication.  Returns the doc_ids."""
    rng = np.random.default_rng(seed)
    base = (seed % 509) * n_docs
    doc_id = np.arange(base, base + n_docs, dtype=np.int64)
    lens = rng.integers(10, 90, n_docs)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(_WORDS[w] for w in words[at : at + n]))
        at += n
    table = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return doc_id


def expected_entities(doc_id: np.ndarray, replicate: int) -> int:
    """Entity count ``synth.pages_df`` embeds: one mention when
    ``doc_id % 7 != 0``, a second when also ``doc_id % 5 == 0``."""
    d = (doc_id[:, None] * replicate + np.arange(replicate)).ravel()
    main = d % 7 != 0
    return int(main.sum() + (main & (d % 5 == 0)).sum())


# --- OSM XML and .poly country rings ------------------------------------------

# ring centers (deg) and mean radius; vertex radii vary by +-20%
_RING_CENTERS = [(10.0, 50.0), (20.0, 45.0), (-4.0, 40.0)]
_RING_R = 2.5
_RING_AMP = 0.2
_HOLE_R = 0.8  # the second ring has a hole of this mean radius
_MARGIN = 0.005  # chords between adjacent vertices bulge far less than this


def _e7_text(v: int) -> str:
    sign = "-" if v < 0 else ""
    v = abs(int(v))
    return f"{sign}{v // E7}.{v % E7:07d}"


def _star(rng, cx, cy, r, n) -> tuple[np.ndarray, np.ndarray]:
    """A star-shaped ring: angles strictly increasing, radii r*(1+-20%).
    Every point nearer the center than r*0.8 is inside it, every point
    farther than r*1.2 outside."""
    th = 2 * math.pi * np.arange(n) / n
    rad = r * (1 + _RING_AMP * rng.uniform(-1, 1, n))
    xs = np.round((cx + rad * np.cos(th)) * E7).astype(np.int64)
    ys = np.round((cy + rad * np.sin(th)) * E7).astype(np.int64)
    return xs, ys


def _write_poly(path: str, name: str, rings: list[tuple[np.ndarray, np.ndarray, bool]]):
    with open(path, "w") as f:
        f.write(name + "\n")
        for i, (xs, ys, hole) in enumerate(rings):
            f.write(("!" if hole else "") + f"{i + 1}\n")
            for x, y in zip(xs.tolist(), ys.tolist()):
                f.write(f"   {_e7_text(x)}   {_e7_text(y)}\n")
            f.write("END\n")
        f.write("END\n")


def _certain_region(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Per point: ring id 1..3 when it certainly lies inside that ring,
    0 when certainly outside all, -1 when only the exact test can say."""
    out = np.zeros(lon.size, dtype=np.int64)
    lo, hi = 1 - _RING_AMP, 1 + _RING_AMP
    for k, (cx, cy) in enumerate(_RING_CENTERS, start=1):
        rho = np.hypot(lon / E7 - cx, lat / E7 - cy)
        inside = rho < _RING_R * lo * (1 - _MARGIN)
        unsure = (rho >= _RING_R * lo * (1 - _MARGIN)) & (rho <= _RING_R * hi * (1 + _MARGIN))
        if k == 2:  # the hole: inside it is outside the polygon
            in_hole = rho < _HOLE_R * lo * (1 - _MARGIN)
            unsure |= (rho >= _HOLE_R * lo * (1 - _MARGIN)) & (rho <= _HOLE_R * hi * (1 + _MARGIN))
            inside &= ~in_hole
        out[inside & ~unsure] = k
        out[unsure] = -1
    return out


def write_osm_inputs(
    work: str, seed: int, n_nodes: int, n_files: int, ring_vertices: int,
    near_share: float,
) -> dict:
    """Country rings as ``.poly`` files and an OSM extract as ``n_files``
    gzip XML files: tagged nodes, ways over nodes whose ring membership
    is certain, and relations nested three deep plus one 2-cycle that no
    node or way reaches.  Returns the paths and the expected counts of
    the way semijoin, the way clip and the relation closure."""
    rng = np.random.default_rng(seed)
    poly_dir = os.path.join(work, "poly")
    os.makedirs(poly_dir, exist_ok=True)
    for k, (cx, cy) in enumerate(_RING_CENTERS, start=1):
        rings = [(*_star(rng, cx, cy, _RING_R, ring_vertices), False)]
        if k == 2:
            rings.append((*_star(rng, cx, cy, _HOLE_R, ring_vertices // 5), True))
        _write_poly(os.path.join(poly_dir, f"c{k}.poly"), f"country_{k}", rings)

    # nodes: near_share around the rings (radius up to 1.5 R), the rest
    # uniform over a box that also covers the rings
    near = rng.random(n_nodes) < near_share
    k = rng.integers(0, 3, n_nodes)
    ctr = np.array(_RING_CENTERS)[k]
    rho = 1.5 * _RING_R * np.sqrt(rng.random(n_nodes))
    th = rng.uniform(0, 2 * math.pi, n_nodes)
    lon = np.where(near, ctr[:, 0] + rho * np.cos(th), rng.uniform(-20, 40, n_nodes))
    lat = np.where(near, ctr[:, 1] + rho * np.sin(th), rng.uniform(30, 60, n_nodes))
    lon = np.round(lon * E7).astype(np.int64)
    lat = np.round(lat * E7).astype(np.int64)
    region = _certain_region(lon, lat)
    node_ids = np.arange(1, n_nodes + 1, dtype=np.int64)

    # ways: 3..8 certain nodes, drawn from one ring's inside set and the
    # outside set; every third way is closed (first node repeated)
    groups = [node_ids[region == g] for g in range(4)]
    n_ways = n_nodes // 5
    ways, way_regions, clip_rows = [], set(), 0
    for w in range(n_ways):
        g = int(rng.integers(1, 4))
        m = int(rng.integers(3, 9))
        n_in = int(rng.integers(0, m + 1))
        refs = np.concatenate([
            rng.choice(groups[g], n_in, replace=False),
            rng.choice(groups[0], m - n_in, replace=False),
        ]).tolist()
        if w % 3 == 0:
            refs.append(refs[0])
        ways.append(refs)
        hits = sum(1 for r in refs if region[r - 1] == g)
        if hits:
            way_regions.add((w, g))
            clip_rows += hits
    way_region_of = {}
    for w, g in way_regions:
        way_region_of.setdefault(w, set()).add(g)

    # relations: level 0 over ways/nodes, levels 1-3 over the level below
    rels: list[list[tuple[str, int]]] = []
    n_rel0 = max(50, n_ways // 10)
    for _ in range(n_rel0):
        mem = [("way", int(w)) for w in rng.choice(n_ways, int(rng.integers(1, 4)), replace=False)]
        mem += [("node", int(n)) for n in rng.choice(groups[0], int(rng.integers(0, 3)), replace=False)]
        rels.append(mem)
    lo = 0
    for size in (n_rel0 // 5, n_rel0 // 25, n_rel0 // 125 + 1):
        hi = len(rels)
        for _ in range(size):
            rels.append([("relation", int(r)) for r in rng.integers(lo, hi, 2)])
        lo = hi
    cyc = len(rels)
    rels.append([("relation", cyc + 1)])
    rels.append([("relation", cyc)])

    accepted: list[set] = [set() for _ in rels]
    for i, mem in enumerate(rels):
        for t, ref in mem:
            if t == "way":
                accepted[i] |= way_region_of.get(ref, set())
            elif t == "node" and region[ref - 1] > 0:
                accepted[i].add(int(region[ref - 1]))
    changed = True
    while changed:
        changed = False
        for i, mem in enumerate(rels):
            for t, ref in mem:
                if t == "relation" and not accepted[ref] <= accepted[i]:
                    accepted[i] |= accepted[ref]
                    changed = True

    way_id0 = 10 * n_nodes  # disjoint id ranges per element kind
    rel_id0 = 20 * n_nodes
    xml_dir = os.path.join(work, "osm")
    os.makedirs(xml_dir, exist_ok=True)
    for f in range(n_files):
        path = os.path.join(xml_dir, f"part-{f}.osm.gz")
        with gzip.open(path, "wt", compresslevel=1) as out:
            out.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
            for i in range(f, n_nodes, n_files):
                out.write(
                    f' <node id="{node_ids[i]}" lat="{_e7_text(lat[i])}" '
                    f'lon="{_e7_text(lon[i])}" timestamp="2024-01-01T00:00:00Z">'
                    f'<tag k="amenity" v="{_WORDS[i % len(_WORDS)]}"/>'
                    f'<tag k="name" v="n{i}"/></node>\n'
                )
            for w in range(f, n_ways, n_files):
                nds = "".join(f'<nd ref="{r}"/>' for r in ways[w])
                out.write(f' <way id="{way_id0 + w}">{nds}<tag k="highway" v="service"/></way>\n')
            for r in range(f, len(rels), n_files):
                mem = "".join(
                    f'<member type="{t}" ref="{ref + (way_id0 if t == "way" else rel_id0 if t == "relation" else 0)}" role=""/>'
                    for t, ref in rels[r]
                )
                out.write(f' <relation id="{rel_id0 + r}">{mem}<tag k="type" v="route"/></relation>\n')
            out.write("</osm>\n")
    return {
        "xml_glob": os.path.join(xml_dir, "part-*.osm.gz"),
        "poly_dir": poly_dir,
        "elements": n_nodes + n_ways + len(rels),
        "way_regions": len(way_regions),
        "clip_rows": clip_rows,
        "closure_rows": sum(len(a) for a in accepted),
        "node_lon": lon,
        "node_lat": lat,
        "node_region": region,
    }

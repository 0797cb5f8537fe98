"""Seeded synthetic ``.osm.pbf`` extract plus the answers the checks need.

The extract is written through the public ``PbfWriter`` and is shaped like
a tool-produced regional file: one blob per ~8k elements, dense nodes
first, then ways, then relations, every element with metadata.  Nodes are
laid out tile by tile (one tile per node blob) and every tile has a theme,
so tags cluster in space the way real data does: amenity and shop nodes
only appear in commercial tiles, so a selective query's dictionary probe
can skip the other blobs.

Expected answers are computed here, from the generator's own element
lists, with the query semantics written out independently of the engine:

- per bronze table: row count and id/ref sums;
- per query shape of the query mix: row count, non-null geometry count and
  (for the metadata shape) the sum of versions.
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter

# bump when the generated bytes or the expected answers change, so stale
# cache entries are never reused
VERSION = 6
BLOB_ELEMENTS = 8000

TILE_DEG = 0.02
TILES_PER_ROW = 32
THEMES = ("road", "residential", "commercial", "rural")
THEME_WEIGHTS = (0.3, 0.3, 0.2, 0.2)

# values the generator plants; the excluded ones are a subset of the
# `highways` default query's exclusion vocabulary
HIGHWAY_KEPT = ("residential", "primary", "secondary", "tertiary", "service", "footway", "track")
HIGHWAY_EXCLUDED = ("platform", "disused", "corridor")
AMENITIES = ("cafe", "restaurant", "bank", "school", "parking", "pharmacy", "fuel")
SHOPS = ("bakery", "supermarket", "clothes", "vacant", "books")
BUILDINGS = ("yes", "house", "residential", "apartments")

NODE_ID0 = 1
WAY_ID0 = 1_000_000_000
REL_ID0 = 2_000_000_000
TS0 = 1_300_000_000


def _meta(rng: random.Random) -> tuple[int, int, int]:
    return (rng.randint(1, 9), TS0 + rng.randrange(400_000_000), rng.randrange(1, 90_000_000))


def _shares(n: int, weights: tuple) -> list[int]:
    """``n`` split by ``weights``, largest remainders first; every share is
    at least 1 when ``n`` allows it."""
    raw = [n * w for w in weights]
    out = [max(1, int(x)) if n >= len(weights) else int(x) for x in raw]
    order = sorted(range(len(raw)), key=lambda i: raw[i] - int(raw[i]), reverse=True)
    i = 0
    while sum(out) < n:
        out[order[i % len(order)]] += 1
        i += 1
    while sum(out) > n:
        j = max(range(len(out)), key=lambda k: out[k])
        out[j] -= 1
    return out


def _segments(refs_by_way: list[list[int]]) -> int:
    """Topology row count: ways split at nodes used more than once across
    the selected ways; a segment joins two consecutive boundary nodes."""
    uses = Counter(n for refs in refs_by_way for n in refs)
    total = 0
    for refs in refs_by_way:
        if len(refs) < 2:
            continue
        bounds = sum(
            1 for i, n in enumerate(refs) if i == 0 or i == len(refs) - 1 or uses[n] > 1
        )
        total += bounds - 1
    return total


def generate(path: str, n_elements: int, seed: int) -> dict:
    """Write the extract to ``path`` and return its expected answers."""
    from osmdatapy_spark.sources.pbf_codec import PbfWriter

    rng = random.Random(seed)
    n_rels = max(4, n_elements * 6 // 1000)
    n_ways = n_elements // 10
    n_nodes = n_elements - n_ways - n_rels
    n_tiles = -(-n_nodes // BLOB_ELEMENTS)
    # the tile layout is fixed (themes interleaved by smooth weighted round
    # robin), so every seed does the same work per query and lands it on
    # the same scan partitions; the seed varies everything inside a tile
    counts = _shares(n_tiles, THEME_WEIGHTS)
    credit = [0] * len(THEMES)
    themes = []
    for _ in range(n_tiles):
        credit = [c + k for c, k in zip(credit, counts)]
        j = credit.index(max(credit))
        credit[j] -= n_tiles
        themes.append(THEMES[j])
    tiles_of = {t: [i for i, th in enumerate(themes) if th == t] for t in THEMES}
    # equal tiles (one blob each, at most BLOB_ELEMENTS nodes)
    bounds = [NODE_ID0 + i * n_nodes // n_tiles for i in range(n_tiles + 1)]
    tile_nodes = list(zip(bounds, bounds[1:]))

    w = PbfWriter(codec="zlib")
    nodes_tags: list[dict] = []
    node_versions: list[int] = []
    for ti in range(n_tiles):
        lo, hi = tile_nodes[ti]
        x0 = -10.0 + (ti % TILES_PER_ROW) * TILE_DEG
        y0 = 40.0 + (ti // TILES_PER_ROW) * TILE_DEG
        theme = themes[ti]
        group = []
        for nid in range(lo, hi):
            tags: dict[str, str] = {}
            r = rng.random()
            if theme == "commercial":
                if r < 0.06:
                    tags = {"amenity": rng.choice(AMENITIES), "name": f"poi {nid}"}
                elif r < 0.09:
                    tags = {"shop": rng.choice(SHOPS)}
            elif theme == "residential" and r < 0.01:
                tags = {"addr:housenumber": str(nid % 300)}
            elif theme == "rural" and r < 0.005:
                tags = {"natural": "tree"}
            meta = _meta(rng)
            node_versions.append(meta[0])
            nodes_tags.append(tags)
            group.append(
                (
                    nid,
                    round(x0 + rng.random() * TILE_DEG, 7),
                    round(y0 + rng.random() * TILE_DEG, 7),
                    tags,
                    meta,
                )
            )
        w.add_dense_nodes(group)

    def tile_node(ti: int) -> int:
        lo, hi = tile_nodes[ti]
        return rng.randrange(lo, hi)

    # junction pools: highway ways of a road tile draw from a small node
    # pool, so they cross and topology has interior split points
    pools = {
        ti: [tile_node(ti) for _ in range(120)] for ti in tiles_of["road"] or range(n_tiles)
    }

    ways: list[tuple] = []  # (theme order, tile, (id, refs, tags, meta))
    member_ways: list[tuple] = []

    def ring(ti: int, k: int) -> list[int]:
        return [tile_node(ti) for _ in range(k)]

    # relations first decide which untagged member ways they need
    rels: list[tuple] = []
    wid = WAY_ID0
    res_tiles = tiles_of["residential"] or list(range(n_tiles))
    kinds = [
        k
        for k, c in zip(("multipolygon", "building", "route"), _shares(n_rels, (0.6, 0.1, 0.3)))
        for _ in range(c)
    ]
    rng.shuffle(kinds)
    for r, kind in enumerate(kinds):
        rid = REL_ID0 + r
        if kind == "route":
            rels.append((rid, None, {"type": "route", "route": "bus", "name": f"line {r}"}, _meta(rng)))
            continue
        ti = rng.choice(res_tiles)
        pts = ring(ti, 6)
        a = pts[:4]
        b = pts[3:] + [pts[0]]
        if rng.random() < 0.5:
            b = b[::-1]
        members = []
        for refs in (a, b):
            member_ways.append((wid, refs, {}, _meta(rng)))
            members.append((wid, 1, "outer"))
            wid += 1
        if kind == "multipolygon" and rng.random() < 0.3:
            inner = ring(ti, 3)
            member_ways.append((wid, inner + [inner[0]], {}, _meta(rng)))
            members.append((wid, 1, "inner"))
            wid += 1
        if kind == "multipolygon":
            tags = {"type": "multipolygon"}
            tags.update({"building": "yes"} if rng.random() < 0.5 else {"landuse": "grass"})
        else:
            tags = {"type": "building", "building": "yes"}
        rels.append((rid, members, tags, _meta(rng)))

    for _ in range(n_ways - len(member_ways)):
        ti = rng.randrange(n_tiles)
        theme = themes[ti]
        r = rng.random()
        if theme == "road" or (theme == "rural" and r < 0.3):
            pool = pools.get(ti)
            length = 1 if r < 0.01 else min(40, 2 + int(rng.expovariate(1 / 7)))
            refs = (
                [rng.choice(pool) for _ in range(length)]
                if pool
                else [tile_node(ti) for _ in range(length)]
            )
            # a way never revisits the node it just left
            refs = [n for i, n in enumerate(refs) if i == 0 or n != refs[i - 1]]
            hv = rng.choice(HIGHWAY_EXCLUDED) if rng.random() < 0.08 else rng.choice(HIGHWAY_KEPT)
            tags = {"highway": hv}
            if rng.random() < 0.5:
                tags["name"] = f"street {wid}"
            if hv == "service" and rng.random() < 0.3:
                tags["service"] = "driveway"
            order = 0
        elif theme == "residential":
            pts = ring(ti, rng.randint(3, 7))
            refs = pts + [pts[0]]
            tags = {"building": rng.choice(BUILDINGS)}
            if rng.random() < 0.2:
                tags["building:levels"] = str(rng.randint(1, 9))
            order = 1
        elif theme == "commercial":
            pts = ring(ti, rng.randint(3, 6))
            refs = pts + [pts[0]]
            if r < 0.5:
                tags = {"amenity": rng.choice(AMENITIES)}
            elif r < 0.75:
                tags = {"shop": rng.choice(SHOPS), "building": "retail"}
            else:
                tags = {"building": "commercial", "name": f"mall {wid}"}
            order = 2
        else:
            pts = ring(ti, rng.randint(3, 8))
            refs = pts + [pts[0]]
            tags = {"landuse": rng.choice(("farmland", "meadow", "forest"))}
            order = 3
        ways.append((order, ti, (wid, refs, tags, _meta(rng))))
        wid += 1

    highway_ids = [wv[2][0] for wv in ways if "highway" in wv[2][2]]
    rels = [
        (rid, [(rng.choice(highway_ids), 1, "") for _ in range(rng.randint(2, 5))], tags, meta)
        if members is None
        else (rid, members, tags, meta)
        for rid, members, tags, meta in rels
    ]

    # ways cluster by theme in the file, as in extracts sorted by area
    ways.sort(key=lambda x: (x[0], x[1]))
    all_ways = [wv[2] for wv in ways] + member_ways
    for i in range(0, len(all_ways), BLOB_ELEMENTS):
        w.add_ways(all_ways[i : i + BLOB_ELEMENTS])
    for i in range(0, len(rels), BLOB_ELEMENTS):
        w.add_relations(rels[i : i + BLOB_ELEMENTS])
    tmp = path + ".tmp"
    w.write(tmp)
    os.replace(tmp, path)

    return _expected(n_nodes, nodes_tags, node_versions, all_ways, rels)


def _expected(n_nodes, nodes_tags, node_versions, all_ways, rels) -> dict:
    from osmdatapy_spark.defaults import DEFAULT_QUERIES

    node_ids = range(NODE_ID0, NODE_ID0 + n_nodes)
    hw_excl = DEFAULT_QUERIES["highways"]["exclude"]

    def excluded(tags: dict, excl: dict) -> bool:
        return any(k in tags and (not vs or tags[k] in vs) for k, vs in excl.items())

    kept_hw = [w for w in all_ways if "highway" in w[2] and not excluded(w[2], hw_excl)]
    bld_ways = [w for w in all_ways if "building" in w[2]]
    bld_rels = [r for r in rels if "building" in r[2]]
    poi_nodes = sum(1 for t in nodes_tags if "amenity" in t)
    poi_ways = [w for w in all_ways if "amenity" in w[2]]
    area_rels = [r for r in rels if r[2].get("type") in ("multipolygon", "boundary")]

    def shop_ok(t: dict) -> bool:
        return "shop" in t and t["shop"] != "vacant"

    def line(ws) -> int:
        return sum(1 for w in ws if len(w[1]) >= 2)

    named_nodes = [v for t, v in zip(nodes_tags, node_versions) if "name" in t]
    named_ways = [w for w in all_ways if "name" in w[2]]
    named_rels = [r for r in rels if "name" in r[2]]
    segments = _segments([w[1] for w in kept_hw])
    shapes = {
        "highways_geometry": {"rows": len(kept_hw), "geoms": line(kept_hw)},
        "buildings_geometry": {
            "rows": len(bld_ways) + len(bld_rels),
            "geoms": line(bld_ways) + sum(1 for r in bld_rels if r[2]["type"] == "multipolygon"),
        },
        "pois_geometry": {"rows": poi_nodes + len(poi_ways), "geoms": poi_nodes + line(poi_ways)},
        "highways_topology": {"rows": segments, "geoms": segments},
        "relation_areas": {"rows": len(area_rels), "geoms": len(area_rels)},
        "shops_must_exclude": {
            "rows": sum(1 for t in nodes_tags if shop_ok(t))
            + sum(1 for w in all_ways if shop_ok(w[2]))
        },
        "named_metadata": {
            "rows": len(named_nodes) + len(named_ways) + len(named_rels),
            "versions": sum(named_nodes)
            + sum(w[3][0] for w in named_ways)
            + sum(r[3][0] for r in named_rels),
        },
    }
    refs = [n for w in all_ways for n in w[1]]
    mems = [m[0] for r in rels for m in r[1]]
    n_el = n_nodes + len(all_ways) + len(rels)
    return {
        "elements": n_el,
        "tables": {
            "elements": {
                "rows": n_el,
                "sum": sum(node_ids) + sum(w[0] for w in all_ways) + sum(r[0] for r in rels),
            },
            "nodes": {"rows": n_nodes, "sum": sum(node_ids)},
            "way_refs": {"rows": len(refs), "sum": sum(refs)},
            "rel_members": {"rows": len(mems), "sum": sum(mems)},
        },
        "shapes": shapes,
    }


def cached(cache_dir: str, n_elements: int, seed: int) -> tuple[str, dict, float]:
    """(path, expected, generation seconds — 0.0 on a cache hit)."""
    import time

    key = f"extract-v{VERSION}-n{n_elements}-s{seed}"
    path = os.path.join(cache_dir, key + ".osm.pbf")
    exp_path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path) and os.path.exists(exp_path):
        with open(exp_path) as f:
            return path, json.load(f), 0.0
    os.makedirs(cache_dir, exist_ok=True)
    t0 = time.perf_counter()
    expected = generate(path, n_elements, seed)
    with open(exp_path + ".tmp", "w") as f:
        json.dump(expected, f)
    os.replace(exp_path + ".tmp", exp_path)
    return path, expected, time.perf_counter() - t0

"""Decode-once contract of a PBF-backed ``OSM``: one persisted full-schema
scan per file version and session feeds every bronze table and query;
query outputs equal the per-kind source relations the engine used to build
for each query.  Geometry is assembled once per file version too: the
derived ``way_coords``, ``relation_area`` and ``relation_line`` frames are
persisted next to the scan, each when first needed, and geometry outputs
equal a table-backed ``OSM``'s."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import Row

from osmdatapy_spark import fixtures
from osmdatapy_spark.engine import OSM
from osmdatapy_spark.query import Query
from osmdatapy_spark.sources.pbf import read_pbf, read_pbf_tables
from osmdatapy_spark.sources.pbf_codec import PbfWriter


def _scan(osm: OSM):
    return osm._pbf_split()[0]


_DERIVED = ("way_coords", "relation_area", "relation_line")


def _geometry(osm: OSM, name: str):
    """The file version's derived frame ``name`` (one of ``_DERIVED``)."""
    return osm._pbf_geometry(name)


def _slot(path: str, name: str) -> str:
    """The session key a derived geometry frame of ``path`` persists under."""
    return f"{os.path.realpath(path)}\0{name}"


def _cached(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return not cm.lookupCachedData(df._jdf).isEmpty()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _persistent_rdd_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _lines_outside_cache(plan: str) -> list[str]:
    """Operator lines of a printed physical plan, skipping the subtrees
    under InMemoryRelation (the plan that filled a cache, printed below
    the scan that reads it)."""
    found, skip_below = [], None
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        depth = len(line) - len(body)
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = None
        if body.startswith("InMemoryRelation"):
            skip_below = depth
        else:
            found.append(body)
    return found


def _source_scans_outside_cache(df) -> list[str]:
    """Lines of the executed plan that scan the osmpbf source directly,
    outside the cached subtrees."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [line for line in _lines_outside_cache(plan) if "osmpbf" in line]


def _write_grid(path: str, n: int) -> None:
    """An n-node row of points plus one way over them, written atomically."""
    w = PbfWriter()
    w.add_dense_nodes([(i, 10.0 + i * 0.001, 50.0, {}) for i in range(1, n + 1)])
    w.add_way(1000, list(range(1, n + 1)), {"highway": "residential"})
    w.write(path + ".tmp")
    os.replace(path + ".tmp", path)


def test_geometry_query_reads_the_cache_after_first_action(spark, fixture_pbf):
    """(a) Once the first action filled the cache, a geometry query with
    relations and topology plans no osmpbf scan of its own."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    q = Query(ways=True, relations=True, geometry=True, topology=True)
    _run(osm.query(q))
    df = osm.query(q)
    _run(df)
    assert _cached(spark, _scan(osm))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert _source_scans_outside_cache(df) == [], plan


def test_two_opens_of_one_file_share_one_cache(spark, fixture_pbf):
    """(b) Two ``from_pbf`` calls on the same unchanged path read one
    persisted scan: the second adds no cached RDD."""
    a = OSM.from_pbf(spark, fixture_pbf)
    b = OSM.from_pbf(spark, fixture_pbf)
    assert _scan(a) is _scan(b)
    q = Query(nodes=True, ways=True, relations=True)
    _run(a.query(q))
    before = _persistent_rdds(spark)
    _run(b.query(q))
    assert _persistent_rdds(spark) == before
    assert OSM(fixture_pbf, spark=spark).nodes.count() == a.nodes.count()


def test_rewritten_file_is_decoded_afresh(spark, tmp_path):
    """(c) A file rewritten in place gets a fresh decode: a new
    ``from_pbf`` returns the new rows and the old cache is released."""
    path = str(tmp_path / "rewrite.osm.pbf")
    _write_grid(path, 5)
    old = OSM.from_pbf(spark, path)
    assert old.nodes.count() == 5
    old_scan = _scan(old)
    assert _cached(spark, old_scan)

    _write_grid(path, 9)
    new = OSM.from_pbf(spark, path)
    assert new.nodes.count() == 9
    assert new.way_refs.count() == 9
    assert _scan(new) is not old_scan
    assert not _cached(spark, old_scan)
    assert _cached(spark, _scan(new))


def test_directory_input_is_keyed_by_its_files(spark, tmp_path):
    """The content key covers every file a directory expands to: adding
    an extract to the directory is a new version."""
    d = tmp_path / "extracts"
    d.mkdir()
    _write_grid(str(d / "a.osm.pbf"), 4)
    first = OSM.from_pbf(spark, str(d))
    assert first.nodes.count() == 4
    first_scan = _scan(first)
    w = PbfWriter()
    w.add_dense_nodes([(100 + i, 11.0, 51.0, {}) for i in range(3)])
    w.write(str(d / "b.osm.pbf"))
    second = OSM.from_pbf(spark, str(d))
    assert _scan(second) is not first_scan
    assert second.nodes.count() == 7
    # an OSM opened before the change follows the file too
    assert _scan(first) is _scan(second)


def test_cleared_cache_is_persisted_again(spark, fixture_pbf):
    """(d) After ``spark.catalog.clearCache()`` the next query persists
    the scan again instead of decoding the file on every later action."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    q = Query(ways=True, geometry=True)
    want = sorted(r["osmid"] for r in osm.query(q).collect())
    scan = _scan(osm)
    spark.catalog.clearCache()
    assert not _cached(spark, scan)
    df = osm.query(q)
    assert _cached(spark, scan)
    assert _scan(osm) is scan
    assert sorted(r["osmid"] for r in df.collect()) == want
    assert _source_scans_outside_cache(osm.query(q)) == []


def _hashable(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, Row):
        return tuple(_hashable(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _hashable(x)) for k, x in v.items()))
    if isinstance(v, list):
        return tuple(_hashable(x) for x in v)
    return v


def _per_query_relation_osm(spark, path: str, q: Query) -> OSM:
    """A table-backed OSM whose elements table is the per-kind source
    relation the engine built for ``q`` before the decoded-once scan: the
    query's kinds, and only the columns its pipeline reads."""
    t = read_pbf_tables(spark, path)
    kinds = {k for k, on in ((0, q.nodes), (1, q.ways), (2, q.relations)) if on}
    elements = t["elements"]
    if len(kinds) < 3:
        cols = ["osmid", "osmtype", "tags"]
        cols += ["lon", "lat"] if 0 in kinds else []
        cols += ["refs"] if 1 in kinds else []
        cols += ["members"] if 2 in kinds else []
        cols += ["version", "timestamp", "changeset"] if q.metadata else []
        elements = read_pbf(spark, path, osmtypes=kinds, columns=cols)
    return OSM.from_tables(elements, t["nodes"], t["way_refs"], t["rel_members"])


@pytest.mark.parametrize(
    "q",
    [
        Query(nodes=True),
        Query(ways=True, keep={"highway": []}),
        Query(relations=True),
        Query(nodes=True, ways=True, relations=True, metadata=True),
        Query(nodes=True, ways=True, relations=True, geometry=True),
        Query(ways=True, relations=True, geometry=True),
        Query(nodes=True, geometry=True, metadata=True),
        Query(ways=True, geometry=True, topology=True),
    ],
    ids=[
        "nodes", "ways", "relations", "metadata", "geometry_all",
        "geometry_ways_relations", "geometry_nodes_metadata", "topology",
    ],
)
def test_outputs_equal_per_query_relations(spark, fixture_pbf, q):
    """(e) Output columns and row multisets of a PBF-backed query equal
    the table-backed pipeline over the per-query source relation."""
    got = OSM.from_pbf(spark, fixture_pbf).query(q)
    want = _per_query_relation_osm(spark, fixture_pbf, q).query(q)
    assert got.columns == want.columns
    rows = Counter(_hashable(r) for r in got.collect())
    assert rows == Counter(_hashable(r) for r in want.collect())
    assert sum(rows.values()) > 0


def test_relation_geometry_persists_do_not_accumulate(spark, fixture_pbf):
    """Every two-branch relation-geometry query of a table-backed OSM
    persists its ring coordinates; the count of persistent RDDs stays flat
    over repeated queries instead of growing by one per query.  The
    queries select different relations, so each persists its own plan."""
    t = read_pbf_tables(spark, fixture_pbf)
    osm = OSM.from_tables(t["elements"], t["nodes"], t["way_refs"], t["rel_members"])
    queries = [
        Query(ways=True, relations=True, geometry=True),
        Query(relations=True, geometry=True),
        Query(relations=True, must_tags=["type"], geometry=True),
        Query(nodes=True, relations=True, must_tags=["name"], geometry=True),
    ]
    counts = []
    for q in queries:
        _run(osm.query(q))
        counts.append(_persistent_rdds(spark))
    assert counts == [counts[0]] * 4, counts


def test_cache_relation_geometry_persists_through_session(spark, fixture_pbf):
    """On a PBF-backed OSM ``cache_relation_geometry`` is a no-op: areas
    already read the file version's ``relation_area``, persisted
    through ``session``, so a session-wide ``release`` drops it like every
    other managed frame and the next query persists it again."""
    from osmdatapy_spark import session

    osm = OSM.from_pbf(spark, fixture_pbf)
    assert osm.cache_relation_geometry() is osm
    want = sorted(tuple(r) for r in osm.relation_areas().collect())
    geom = _geometry(osm, "relation_area")
    assert _cached(spark, geom)
    assert "InMemoryTableScan" in osm.relation_areas()._jdf.queryExecution().executedPlan().toString()
    session.release(_slot(fixture_pbf, "relation_area"))
    assert not _cached(spark, geom)
    assert sorted(tuple(r) for r in osm.relation_areas().collect()) == want
    assert _cached(spark, geom)


def test_scan_of_missing_path_fails_on_access(spark, tmp_path):
    osm = OSM.from_pbf(spark, str(tmp_path / "absent.osm.pbf"))
    with pytest.raises(FileNotFoundError):
        osm.elements


def test_copy_of_a_file_is_its_own_cache(spark, fixture_pbf, tmp_path):
    """The key is the resolved path: a copy elsewhere is another input."""
    copy = str(tmp_path / "copy.osm.pbf")
    shutil.copy(fixture_pbf, copy)
    assert _scan(OSM.from_pbf(spark, copy)) is not _scan(OSM.from_pbf(spark, fixture_pbf))
    link = str(tmp_path / "link.osm.pbf")
    os.symlink(fixture_pbf, link)
    assert _scan(OSM.from_pbf(spark, link)) is _scan(OSM.from_pbf(spark, fixture_pbf))


def test_concurrent_opens_share_one_registered_cache(spark, fixture_pbf, tmp_path):
    """Threads racing to open the same new file all get the one scan the
    store kept, and it is registered for release exactly once."""
    import sys
    import threading

    from osmdatapy_spark import session

    path = str(tmp_path / "race.osm.pbf")
    shutil.copy(fixture_pbf, path)
    got: list = []

    def work():
        for _ in range(20):
            got.append(_scan(OSM.from_pbf(spark, path)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 16 * 20
    assert len({id(s) for s in got}) == 1
    registered = session._STATE[spark][("persisted", os.path.realpath(path))]
    assert registered == [got[0]]
    assert _cached(spark, got[0])


# -- geometry assembled once per file version ---------------------------------

_GEOMETRY_QUERIES = {
    "highways": Query("highways", geometry=True),
    "buildings": Query("buildings", geometry=True),
    "pois": Query("pois", geometry=True),
    "topology": Query("highways", ways=True, geometry=True, topology=True),
    "wkb": Query(nodes=True, ways=True, relations=True, geometry=True),
}
_GEOMETRY_SHAPES = sorted([*_GEOMETRY_QUERIES, "relation_areas", "relation_lines"])


def _geometry_op(osm: OSM, shape: str):
    if shape in _GEOMETRY_QUERIES:
        return osm.query(_GEOMETRY_QUERIES[shape], wkb=shape == "wkb")
    return getattr(osm, shape)()


def _write_square(path: str, rels: dict, side: float = 1.0) -> None:
    """Nodes 1-4 on a square of ``side`` degrees, closed way 10 over them,
    and multipolygons ``rels`` = {rel_id: [(member_id, member_type, role)]},
    written atomically."""
    w = PbfWriter()
    w.add_dense_nodes(
        [(1, 0.0, 0.0, {}), (2, side, 0.0, {}), (3, side, side, {}), (4, 0.0, side, {})]
    )
    w.add_way(10, [1, 2, 3, 4, 1], {"building": "yes"})
    for rid, members in rels.items():
        w.add_relation(rid, members, {"type": "multipolygon"})
    w.write(path + ".tmp")
    os.replace(path + ".tmp", path)


@pytest.fixture(scope="module")
def catalog_pbf(tmp_path_factory):
    """The fixture tables of ``osmdatapy_spark.fixtures`` as a .pbf: every
    relation shape, including relation 6, whose member is relation 1
    (relation-of-relations geometry), and a dangling member way."""
    path = str(tmp_path_factory.mktemp("catalog") / "catalog.osm.pbf")
    node_ids = sorted(
        {n for refs in fixtures.WAY_REFS.values() for n in refs}
        | set(fixtures.NODE_TAGS)
        | {1, 2, 3, 4}
    )
    w = PbfWriter()
    w.add_dense_nodes(
        [(i, *fixtures._node_coords(i), fixtures.NODE_TAGS.get(i, {})) for i in node_ids]
    )
    for wid, refs in fixtures.WAY_REFS.items():
        w.add_way(wid, refs, fixtures.WAY_TAGS.get(wid, {}))
    for rid, tags in fixtures.REL_TAGS.items():
        members = sorted(m for m in fixtures.REL_MEMBERS if m[0] == rid)
        w.add_relation(rid, [(mid, mtype, role) for _, _, mid, mtype, role in members], tags)
    w.write(path)
    return path


def test_warm_geometry_plans_read_the_derived_caches(spark, fixture_pbf):
    """(a) After the first geometry round, warm highways and buildings
    geometry queries plan no refs explode, no node-coordinate join and no
    pandas kernel outside the cached subtrees."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    shapes = ("highways", "buildings")
    for shape in shapes:
        _run(_geometry_op(osm, shape))
    for shape in shapes:
        df = _geometry_op(osm, shape)
        _run(df)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = _lines_outside_cache(plan)
        assert any(line.startswith("InMemoryTableScan") for line in lines), plan
        bad = [
            line for line in lines
            if "posexplode" in line or "node_id" in line or "InPandas" in line
        ]
        assert bad == [], plan
    for name in _DERIVED:
        assert _cached(spark, _geometry(osm, name))


def test_two_opens_share_the_derived_geometry(spark, fixture_pbf):
    """(b) Every ``OSM`` on one unchanged file reads the same derived
    frames."""
    a = OSM.from_pbf(spark, fixture_pbf)
    b = OSM.from_pbf(spark, fixture_pbf)
    for name in _DERIVED:
        assert _geometry(a, name) is _geometry(b, name)


def test_rewrite_gives_new_geometry_and_releases_the_old(spark, tmp_path):
    """(c) A rewritten file gets geometry assembled afresh, and the old
    version's derived caches are released when the new ones persist."""
    path = str(tmp_path / "geom.osm.pbf")
    _write_square(path, {200: [(10, 1, "outer")]})
    osm = OSM.from_pbf(spark, path)
    q = Query(ways=True, relations=True, geometry=True)
    before = {(r["osmtype"], r["osmid"]): r["geometry"] for r in osm.query(q).collect()}
    old = {name: _geometry(osm, name) for name in _DERIVED}
    assert all(_cached(spark, df) for df in old.values())

    _write_square(path, {200: [(10, 1, "outer")], 201: [(10, 1, "outer")]}, side=2.0)
    after = {(r["osmtype"], r["osmid"]): r["geometry"] for r in osm.query(q).collect()}
    assert set(after) == set(before) | {(2, 201)}
    for key in before:
        assert after[key] != before[key] and "2.0000000 2.0000000" in after[key]
    assert after[(2, 201)] == after[(2, 200)]
    for name, df in old.items():
        assert not _cached(spark, df), name
        assert _geometry(osm, name) is not df
        assert _cached(spark, _geometry(osm, name))


def test_cleared_geometry_is_persisted_again_from_the_scan(spark, fixture_pbf):
    """(d) After ``clearCache()`` the next geometry query persists the
    derived frames again, and their caches fill from the scan's cache,
    not from a second decode."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    q = Query("buildings", geometry=True)
    want = Counter(_hashable(r) for r in osm.query(q).collect())
    frames = {name: _geometry(osm, name) for name in _DERIVED}
    spark.catalog.clearCache()
    assert not any(_cached(spark, df) for df in frames.values())
    df = osm.query(q)
    cm = spark._jsparkSession.sharedState().cacheManager()
    for name, frame in frames.items():
        assert _geometry(osm, name) is frame
        assert _cached(spark, frame), name
        filled_by = (
            cm.lookupCachedData(frame._jdf).get().cachedRepresentation()
            .cacheBuilder().cachedPlan().toString()
        )
        lines = _lines_outside_cache(filled_by)
        assert any(line.startswith("InMemoryTableScan") for line in lines), filled_by
        assert not any("osmpbf" in line for line in lines), filled_by
    assert Counter(_hashable(r) for r in df.collect()) == want


@pytest.mark.parametrize("shape", _GEOMETRY_SHAPES)
@pytest.mark.parametrize("which", ["grid", "catalog"])
def test_geometry_equals_table_backed(spark, fixture_pbf, catalog_pbf, which, shape):
    """(e) Geometry outputs (columns, rows, WKT and WKB) of a PBF-backed
    OSM equal a table-backed OSM's on the same tables (with the query's
    per-kind element relation), whose pipelines assemble per query; the
    catalog file has relation-of-relations."""
    path = fixture_pbf if which == "grid" else catalog_pbf
    q = _GEOMETRY_QUERIES.get(shape, Query(nodes=True, ways=True, relations=True))
    got = _geometry_op(OSM.from_pbf(spark, path), shape)
    want = _geometry_op(_per_query_relation_osm(spark, path, q), shape)
    assert got.columns == want.columns
    rows = Counter(_hashable(r) for r in got.collect())
    assert rows == Counter(_hashable(r) for r in want.collect())
    assert sum(rows.values()) > 0


def test_four_persisted_frames_per_file_version(spark, fixture_pbf, tmp_path):
    """(f) Repeated geometry ops on one file version hold exactly four
    persistent RDDs of their own: the scan and the three derived frames."""
    path = str(tmp_path / "three.osm.pbf")
    shutil.copy(fixture_pbf, path)
    before = _persistent_rdd_ids(spark)
    osm = OSM.from_pbf(spark, path)
    seen = []
    for _ in range(3):
        for shape in _GEOMETRY_SHAPES:
            _run(_geometry_op(osm, shape))
        _run(osm.query(Query(ways=True, relations=True, geometry=True)))
        seen.append(_persistent_rdd_ids(spark) - before)
    assert len(seen[0]) == 4, seen
    assert seen == [seen[0]] * 3, seen


def test_nested_relation_probe_follows_a_rewrite(spark, tmp_path):
    """An OSM opened before a rewrite that adds the first relation-type
    member assembles the new relation-of-relations, like a fresh open."""
    path = str(tmp_path / "nested.osm.pbf")
    _write_square(path, {200: [(10, 1, "outer")]})
    osm = OSM.from_pbf(spark, path)
    assert [r["rel_id"] for r in osm.relation_areas().collect()] == [200]
    _write_square(path, {200: [(10, 1, "outer")], 300: [(200, 2, "")]})
    fresh = sorted(r["rel_id"] for r in OSM.from_pbf(spark, path).relation_areas().collect())
    assert fresh == [200, 300]
    assert sorted(r["rel_id"] for r in osm.relation_areas().collect()) == fresh


def test_cache_relation_geometry_follows_a_rewrite(spark, tmp_path):
    """``cache_relation_geometry()`` on a PBF-backed OSM holds nothing of
    its own: after a rewrite the areas are the new file's."""
    path = str(tmp_path / "warm.osm.pbf")
    _write_square(path, {200: [(10, 1, "outer")]})
    osm = OSM.from_pbf(spark, path).cache_relation_geometry()
    assert [r["rel_id"] for r in osm.relation_areas().collect()] == [200]
    _write_square(path, {201: [(10, 1, "outer"), (10, 1, "inner")]})
    assert [r["rel_id"] for r in osm.relation_areas().collect()] == [201]


def test_one_kind_of_relation_geometry_builds_only_its_frame(spark, fixture_pbf, tmp_path):
    """A cold ``relation_lines()`` or route query persists the scan and
    ``relation_line`` only: no multipolygon is chained for a reader of
    routes; ``relation_areas()`` then adds its own frame."""
    path = str(tmp_path / "lines.osm.pbf")
    shutil.copy(fixture_pbf, path)
    before = _persistent_rdd_ids(spark)
    osm = OSM.from_pbf(spark, path)
    _run(osm.relation_lines())
    assert len(_persistent_rdd_ids(spark) - before) == 2
    assert _cached(spark, _geometry(osm, "relation_line"))
    _run(osm.relation_areas())
    assert len(_persistent_rdd_ids(spark) - before) == 3

    shutil.copy(fixture_pbf, path + ".copy")
    before = _persistent_rdd_ids(spark)
    routes = Query(relations=True, relation_type=["route"], geometry=True)
    rows = OSM.from_pbf(spark, path + ".copy").query(routes).collect()
    assert len(_persistent_rdd_ids(spark) - before) == 2
    assert rows and all(r["geometry"].startswith(("LINESTRING", "MULTILINESTRING")) for r in rows)


@pytest.mark.parametrize("types", [["route"], ["multipolygon"], ["site"]])
def test_relation_type_query_equals_table_backed(spark, catalog_pbf, types):
    """A query whose ``relation_type`` rules a kind out gives the same
    rows as a table-backed OSM, which assembles it per query."""
    q = Query(relations=True, relation_type=types, geometry=True)
    got = OSM.from_pbf(spark, catalog_pbf).query(q)
    want = _per_query_relation_osm(spark, catalog_pbf, q).query(q)
    assert got.columns == want.columns
    assert Counter(_hashable(r) for r in got.collect()) == Counter(
        _hashable(r) for r in want.collect()
    )

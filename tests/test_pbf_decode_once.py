"""Decode-once contract of a PBF-backed ``OSM``: one persisted full-schema
scan per file version and session feeds every bronze table and query;
query outputs equal the per-kind source relations the engine used to build
for each query."""

from __future__ import annotations

import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import Row

from osmdatapy_spark.engine import OSM
from osmdatapy_spark.query import Query
from osmdatapy_spark.sources.pbf import read_pbf, read_pbf_tables
from osmdatapy_spark.sources.pbf_codec import PbfWriter


def _scan(osm: OSM):
    return osm._pbf_split()[0]


def _cached(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return not cm.lookupCachedData(df._jdf).isEmpty()


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _source_scans_outside_cache(df) -> list[str]:
    """Lines of the executed plan that scan the osmpbf source directly,
    skipping the subtrees under InMemoryRelation (the plan that filled a
    cache, printed below the scan that reads it)."""
    found, skip_below = [], None
    for line in df._jdf.queryExecution().executedPlan().toString().splitlines():
        body = line.lstrip(" :+-")
        depth = len(line) - len(body)
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = None
        if body.startswith("InMemoryRelation"):
            skip_below = depth
        elif "osmpbf" in body:
            found.append(body)
    return found


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
    """Every two-branch relation-geometry query persists its ring
    coordinates; the count of persistent RDDs stays flat over repeated
    queries instead of growing by one per query."""
    osm = OSM.from_pbf(spark, fixture_pbf)
    q = Query(ways=True, relations=True, geometry=True)
    counts = []
    for _ in range(4):
        _run(osm.query(q))
        counts.append(_persistent_rdds(spark))
    assert counts == [counts[0]] * 4, counts


def test_cache_relation_geometry_persists_through_session(spark, fixture_pbf):
    """``cache_relation_geometry`` persists under its call-site key, so a
    session-wide ``release`` drops it like every other managed frame."""
    from osmdatapy_spark import session

    osm = OSM.from_pbf(spark, fixture_pbf).cache_relation_geometry()
    want = sorted(tuple(r) for r in osm.relation_areas().collect())
    assert _cached(spark, osm._rel_coords_cache)
    session.release("engine.relation_geometry")
    assert not _cached(spark, osm._rel_coords_cache)
    assert sorted(tuple(r) for r in osm.relation_areas().collect()) == want


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

"""Session-scoped state (session.py): one store for the handles, memos and
persisted frames that belong to a session or a JVM, and its lifecycle —
restart, in-place dataset rewrite, chained pipelines."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

from osmdatapy_spark import session

REPO = Path(__file__).resolve().parent.parent

_KEYED_STATE = re.compile(
    r"\bid\(\s*(spark|gw|gateway|sc)\s*\)|SparkContext\._gateway|[\"']_gateway[\"']"
)


def test_session_state_lives_only_in_session_py():
    """Driver state keyed by a session or JVM identity belongs in
    session.py's store; a module that keys its own dict by ``id(spark)``
    or the py4j gateway re-creates the schemes it replaced."""
    pkg = REPO / "osmdatapy_spark"
    offenders = [
        f"{path.relative_to(REPO)}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "session.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _KEYED_STATE.search(line)
    ]
    assert not offenders, "session/JVM-keyed state outside session.py:\n" + "\n".join(offenders)


# the two raw persists the guard below allows, by enclosing function: the
# user-facing materialization point, and a persist/unpersist pair that
# never leaves its function
_RAW_PERSIST_ALLOWED = {
    ("osmdatapy_spark/curate.py", "Curate.persist"),
    ("osmdatapy_spark/functions/similarity.py", "kmeans_centroids"),
}


def _raw_persists(path: Path) -> list[tuple[str, int]]:
    """(enclosing function, line) of each ``.persist(...)``/``.cache()``
    call in ``path``."""
    import ast

    found: list[tuple[str, int]] = []

    def visit(node: ast.AST, scope: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                visit(child, f"{scope}.{child.name}" if scope else child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("persist", "cache")
            ):
                found.append((scope, child.lineno))
            visit(child, scope)

    visit(ast.parse(path.read_text()), "")
    return found


def test_persists_go_through_session_py():
    """Every frame the package persists is registered in session.py
    (``managed_persist``/``shared_persist``), so repeated calls release
    what earlier calls persisted; a raw ``.persist()``/``.cache()`` outside
    it leaks one cached frame per call.  Only the allow-listed sites may
    persist directly."""
    pkg = REPO / "osmdatapy_spark"
    offenders = [
        f"{rel}:{line}: in {scope or '<module>'}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "session.py"
        for rel in [str(path.relative_to(REPO))]
        for scope, line in _raw_persists(path)
        if (rel, scope) not in _RAW_PERSIST_ALLOWED
    ]
    assert not offenders, "raw persist outside session.py:\n" + "\n".join(offenders)
    allowed = {
        (str(path.relative_to(REPO)), scope)
        for path in pkg.rglob("*.py")
        for scope, _ in _raw_persists(path)
    }
    assert _RAW_PERSIST_ALLOWED <= allowed, "stale allow-list entry"


_RESTART_SCRIPT = """
import sys
from osmdatapy_spark import session
from osmdatapy_spark.operators.geometry import way_geom_type
from osmdatapy_spark.session import get_spark
from osmdatapy_spark.sources.pbf import read_pbf
from osmdatapy_spark.suite._util import TS

pbf, sf_dir = sys.argv[1], sys.argv[2]


def use(spark):
    ways = spark.createDataFrame(
        [([1, 2, 3, 1], {"building": "yes"}), ([1, 2], {})],
        "refs array<long>, tags map<string,string>",
    )
    return (
        read_pbf(spark, pbf).count(),
        TS(spark, sf_dir, "documents").count(),
        [r.g for r in ways.select(way_geom_type().alias("g")).collect()],
    )


old = get_spark("restart-old", cpus=1)
old.range(7).write.parquet(sf_dir + "/documents.parquet")
before = use(old)
old_sc = old.sparkContext
assert old in session._STATE and old_sc in session._STATE
old.stop()

new = get_spark("restart-new", cpus=1)
after = use(new)
assert after == before, (before, after)
assert old not in session._STATE and old_sc not in session._STATE, list(session._STATE)
assert new in session._STATE
new.stop()
print("restart ok", after)
"""


def test_restart_prunes_stopped_session_state(fixture_pbf, tmp_path):
    """Stopping a session and starting another in the same process prunes
    the stopped session's (and context's) entries on the next miss, and
    the PBF source, spread tables and the memoized way-geometry Column
    all work in the new session.  Runs in a child process so the shared
    test session stays up."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([str(REPO), os.environ.get("PYTHONPATH", "")]),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, fixture_pbf, str(tmp_path / "sf")],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "restart ok" in proc.stdout


def test_invalidate_reads_rewritten_table(spark, tmp_path):
    """Table handles freeze their file listing until ``invalidate`` drops
    that directory's table and spread-table handles and its artifacts;
    other directories keep theirs."""
    from osmdatapy_spark.functions import artifacts
    from osmdatapy_spark.suite._util import TS
    from osmdatapy_spark.tables import load_table

    sf, other = str(tmp_path / "sf"), str(tmp_path / "other")
    spark.range(3).write.parquet(f"{sf}/region.parquet")
    spark.range(2).write.parquet(f"{other}/region.parquet")
    assert load_table(spark, sf, "region") is load_table(spark, sf, "region")
    assert TS(spark, sf, "region").count() == 3
    kept = load_table(spark, other, "region")
    artifacts.train_once((sf, "ivf_centroids", 1), lambda: [[0.0]])
    artifacts.train_once((other, "ivf_centroids", 1), lambda: [[1.0]])

    spark.range(10, 15).write.mode("overwrite").parquet(f"{sf}/region.parquet")
    session.invalidate(sf)

    assert sorted(r.id for r in load_table(spark, sf, "region").collect()) == list(range(10, 15))
    assert TS(spark, sf, "region").count() == 5
    assert load_table(spark, other, "region") is kept
    assert artifacts.train_once((sf, "ivf_centroids", 1), lambda: [[2.0]]) == [[2.0]]
    assert artifacts.train_once((other, "ivf_centroids", 1), lambda: [[3.0]]) == [[1.0]]
    for k in [(sf, "ivf_centroids", 1), (other, "ivf_centroids", 1)]:
        del artifacts._CACHE[k]


def test_chained_pipelines_keep_their_shingle_caches(spark):
    """Two fuzzy-dedup chains built before either runs: the first chain's
    action still reads its (now materialized) shingle cache, and the
    second chain's cache stays registered until its own action."""
    from osmdatapy_spark.curate import Curate

    texts = [
        "a completely different document about spark catalyst plans and shuffles " * 3,
        # near-duplicate of the first (one token changed): dropped
        "a completely different document about spark tungsten plans and shuffles " * 3,
        "seventeen green turtles carry twelve purple boxes across nine frozen rivers",
    ]

    def corpus(offset):
        rows = [(offset + i, t) for i, t in enumerate(texts)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def latest_sets():
        return session._STATE[spark][("persisted", "curate.fuzzy_sets")][-1]

    first = Curate(corpus(0)).fuzzy_dedup().df()
    first_sets = latest_sets()
    second = Curate(corpus(100)).fuzzy_dedup().df()
    second_sets = latest_sets()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    assert sorted(r.doc_id for r in first.collect()) == [0, 2]
    assert "InMemoryTableScan" in first._jdf.queryExecution().executedPlan().toString()
    assert session._materialized(cache_manager, first_sets) is True
    assert session._materialized(cache_manager, second_sets) is False

    assert sorted(r.doc_id for r in second.collect()) == [100, 102]
    assert "InMemoryTableScan" in second._jdf.queryExecution().executedPlan().toString()
    session.release("curate.fuzzy_sets")
    assert session._materialized(cache_manager, first_sets) is None
    assert session._materialized(cache_manager, second_sets) is None


def test_managed_persist_pending_frames_are_capped(spark):
    """Frames no action has materialized stay registered, but at most
    ``_MAX_PENDING`` per call site."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    frames = [
        session.managed_persist(spark.range(i + 1).withColumn("k", F.lit(i)), "test.pending")
        for i in range(session._MAX_PENDING + 2)
    ]
    states = [session._materialized(cache_manager, f) for f in frames]
    assert states == [None] * 2 + [False] * session._MAX_PENDING, states
    session.release("test.pending")
    assert all(session._materialized(cache_manager, f) is None for f in frames)


def test_memo_keeps_one_value_per_key_under_contention(spark):
    """Threads racing on the same keys all receive the one value the store
    kept; a lost update would hand two callers different handles."""
    import threading

    got: dict[int, list] = {k: [] for k in range(4)}

    def work():
        for i in range(200):
            got[i % 4].append(session.memo(spark, ("contention", i % 4), object))

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
    for values in got.values():
        assert len(values) == 16 * 50
        assert len({id(v) for v in values}) == 1


def test_tune_session_runs_once_per_session(spark):
    """``tune_session`` applies its conf on the session's first miss in
    the store and costs nothing after that."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    session.tune_session(s)
    assert s.conf.get("spark.sql.session.timeZone") == "UTC"
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    session.tune_session(s)
    assert s.conf.get("spark.sql.session.timeZone") == "America/New_York"

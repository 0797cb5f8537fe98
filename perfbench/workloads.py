"""The benchmark's workloads: each is a closed loop with one client that
calls the public API on seeded inputs and checks every output.

``osm_query_mix``  the analyst session: one extract opened once, then a
                   fixed sequence of query shapes, each written to the noop
                   sink.  DataFrame build, py4j, planning and pruning, and
                   the geometry/ring/topology operators dominate; decode is
                   a small share and nothing is written.
``curate_corpus``  no PBF at all: shuffle-heavy dedup on a corpus plus the
                   write-and-read-back manifest path, so it moves only on
                   ``curate``/``functions``/``sinks`` changes.

The per-layer readings each workload takes in a traced run live next to
its ops, because they difference the same public calls.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

from spans import Py4jCounter, StatusStore, Tracer, merge_intervals

SHAPES = (
    "highways_geometry",
    "buildings_geometry",
    "pois_geometry",
    "highways_topology",
    "relation_areas",
    "shops_must_exclude",
    "named_metadata",
)


def make_query(shape: str):
    """The Query of a shape; None for the relation-areas shape, which is
    ``OSM.relation_areas()`` rather than a Query."""
    from osmdatapy_spark.query import Query

    if shape == "highways_geometry":
        return Query("highways", geometry=True)
    if shape == "buildings_geometry":
        return Query("buildings", geometry=True)
    if shape == "pois_geometry":
        return Query("pois", geometry=True)
    if shape == "highways_topology":
        return Query("highways", ways=True, geometry=True, topology=True)
    if shape == "shops_must_exclude":
        return Query(
            nodes=True, ways=True, must_tags=["shop"], keep_first=False,
            exclude={"shop": ["vacant"]},
        )
    if shape == "named_metadata":
        return Query(
            nodes=True, ways=True, relations=True, must_tags=["name"],
            metadata=True, tags=["name"],
        )
    if shape == "relation_areas":
        return None
    raise ValueError(shape)


def _dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(".") or n == "_SUCCESS":
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _generate(fn, *args):
    """Run a generator in a child process, so its memory never counts
    toward the benchmark's peak RSS; waits for the child to end."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as ex:
        return ex.submit(fn, *args).result()


@dataclass(slots=True)
class Op:
    key: str
    wall_s: float
    items: int
    error: str | None
    traced: bool


class Workload:
    """Shared loop plumbing: job groups, status-store readings, spans."""

    name = ""
    item_unit = ""
    action_span = ""  # the span Spark jobs of an op are charged to

    def __init__(self, work: str, tracer: Tracer) -> None:
        self.work = work
        self.tr = tracer
        self.spark = None
        self.status: StatusStore | None = None
        self.op_stats: list[dict] = []  # status-store readings of traced ops
        self.counters: dict[str, list[float]] = {}
        self.expected: dict = {}
        self.skipped: list[str] = []  # per-layer metrics not measured in time
        self.out = os.path.join(work, "out", f"{self.name}-{os.getpid()}")

    def round(self) -> list[str]:
        raise NotImplementedError

    def cleanup(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def open(self, spark) -> None:
        self.spark = spark
        self.status = StatusStore(spark)

    def past(self, deadline: float, *metrics: str) -> bool:
        """True, recording ``metrics`` as skipped, once a traced run has
        used its time budget, so that it still ends in time."""
        if time.perf_counter() < deadline:
            return False
        self.skipped.extend(metrics)
        return True

    def _py4j(self, tr: Tracer, key: str):
        """Count py4j commands into ``key`` when tracing."""
        return Py4jCounter(self.spark, self.counters.setdefault(key, [])) if tr.enabled else nullcontext()

    def run(self, key: str, op_id: int, traced: bool) -> Op:
        group = f"perfbench-{op_id}"
        self.spark.sparkContext.setJobGroup(group, f"{self.name}:{key}")
        tr = self.tr if traced else _OFF
        epoch0, perf0 = time.time(), time.perf_counter()
        error = None
        t0 = time.perf_counter()
        try:
            with tr.span("op", op_id):
                items = self.op(key, tr)
        except Exception as e:  # one failed op must not end the loop
            error = f"{type(e).__name__}: {str(e)[:300]}"
            items = 0
        wall = time.perf_counter() - t0
        if error is None:
            error = self.check(key)
        if traced:
            stats = self.status.group(group)
            self.op_stats.append(stats)
            try:
                action = self.tr.last(self.action_span)
            except KeyError:
                action = None
            if action is not None and self.tr.spans[action][4] == op_id:
                for a, b in merge_intervals(stats["intervals"]):
                    self.tr.add("spark.jobs", a - epoch0 + perf0, b - epoch0 + perf0, action)
        return Op(key, wall, items, error, traced)

    def op(self, key: str, tr: Tracer) -> int:
        raise NotImplementedError

    def check(self, key: str) -> str | None:
        raise NotImplementedError

    def spark_layers(self) -> dict:
        st = self.op_stats
        n = max(1, len(st))
        p50 = [x for s in st for x in s["task_p50_ms"]]
        mx = [x for s in st for x in s["task_max_ms"]]
        skews = [
            b / a for s in st for a, b in zip(s["task_p50_ms"], s["task_max_ms"]) if a > 0
        ]
        out = {
            f"spark.{k}": sum(s[k] for s in st) / n
            for k in (
                "jobs", "stages", "tasks", "executor_run_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "gc_s",
            )
        }
        out["spark.task_p50_ms"] = statistics.median(p50) if p50 else 0.0
        out["spark.task_max_ms"] = max(mx) if mx else 0.0
        out["spark.task_skew"] = max(skews) if skews else 0.0
        return out


_OFF = Tracer(enabled=False)


class QueryMix(Workload):
    name = "osm_query_mix"
    item_unit = "queries"
    action_span = "engine.action"
    N_ELEMENTS = 100_000

    def prepare(self, seed: int) -> float:
        import gen_extract

        self.path, self.expected, gen_s = _generate(
            gen_extract.cached, os.path.join(self.work, "cache"), self.N_ELEMENTS, seed
        )
        self.input_bytes = os.path.getsize(self.path)
        return gen_s

    def round(self) -> list[str]:
        return list(SHAPES)

    def open(self, spark) -> None:
        from osmdatapy_spark.engine import OSM

        super().open(spark)
        self.osm = OSM.from_pbf(spark, self.path)
        self.last: dict | None = None

    def op(self, key: str, tr: Tracer) -> int:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with tr.span("query.compile"):
            q = make_query(key)
            if tr.enabled and q is not None:
                q.compile()
        with tr.span("engine.build"), self._py4j(tr, "engine.py4j_calls"):
            df = self.osm.relation_areas() if q is None else self.osm.query(q)
            obs = Observation()
            aggs = [F.count(F.lit(1)).alias("rows")]
            geom = "wkt" if q is None else ("geometry" if q.geometry else None)
            if geom:
                aggs.append(F.count(geom).alias("geoms"))
            if q is not None and q.metadata:
                aggs.append(F.sum("version").alias("versions"))
            df = df.observe(obs, *aggs)
        with tr.span("engine.action"):
            df.write.format("noop").mode("overwrite").save()
        self.last = obs.get
        return 1

    def check(self, key: str) -> str | None:
        want = self.expected["shapes"][key]
        got = {k: self.last.get(k) for k in want}
        return None if got == want else f"{key}: got {got}, want {want}"

    def layers(self, ops: list[Op], deadline: float) -> dict:
        """Per-layer readings of a traced run (after its ops); the Spark
        re-runs are skipped once ``deadline`` has passed."""
        from osmdatapy_spark.sources import pbf_codec
        from osmdatapy_spark.sources.pbf import PBF_SCHEMA, PbfDataSourceReader, read_pbf

        out: dict = {}
        names = self.tr.by_name()
        traced = [o for o in ops if o.traced]
        n = max(1, len(traced))
        for span, metric in (
            ("query.compile", "query.compile_s"),
            ("engine.build", "engine.build_s"),
            ("engine.action", "engine.action_s"),
        ):
            out[metric] = names.get(span, {}).get("total_s", 0.0) / n
        out["engine.driver_gap_s"] = names.get("engine.action", {}).get("self_s", 0.0) / n
        out["engine.py4j_calls"] = statistics.mean(self.counters.get("engine.py4j_calls", [0]))

        wall: dict = {}
        for o in ops:
            if not o.traced:
                wall.setdefault(o.key, []).append(o.wall_s)
        wall = {k: statistics.median(v) for k, v in wall.items()}

        # geometry on minus geometry off, per geometry shape
        if not self.past(deadline, "operators.geometry_s"):
            geo = []
            for shape in ("highways_geometry", "buildings_geometry", "pois_geometry"):
                q = make_query(shape)
                q.geometry = False
                t0 = time.perf_counter()
                self.osm.query(q).write.format("noop").mode("overwrite").save()
                geo.append(wall[shape] - (time.perf_counter() - t0))
            out["operators.geometry_s"] = statistics.mean(geo)
        out["operators.topology_s"] = wall["highways_topology"] - wall["highways_geometry"]
        out["operators.rings_s"] = wall["relation_areas"]

        # single-thread in-process replay of the codec on this extract
        t0 = time.perf_counter()
        spans = [s for s in pbf_codec.scan_blob_spans(self.path) if s.blob_type == "OSMData"]
        out["pbf_codec.frame_s"] = time.perf_counter() - t0
        out["pbf_codec.blobs"] = len(spans)
        inflate = decode = 0.0
        raw_bytes = elements = 0
        for s in spans:
            t0 = time.perf_counter()
            raw = pbf_codec.read_blob(self.path, s)
            t1 = time.perf_counter()
            segs = pbf_codec.decode_block_segments(raw, with_metadata=True)
            t2 = time.perf_counter()
            inflate += t1 - t0
            decode += t2 - t1
            raw_bytes += len(raw)
            elements += sum(len(g) if isinstance(g, list) else g.n for g in segs)
        out["pbf_codec.inflate_s"] = inflate
        out["pbf_codec.inflate_ratio"] = raw_bytes / max(1, sum(s.size for s in spans))
        out["pbf_codec.decode_s"] = decode
        out["pbf_codec.elements"] = elements
        out["pbf_codec.elements_per_s"] = elements / (inflate + decode)

        # the data source's read() on the same blobs; arrow_s is what it
        # spends beyond inflate + decode
        reader = PbfDataSourceReader(PBF_SCHEMA, {"path": self.path})
        t0 = time.perf_counter()
        for part in reader.partitions():
            for _batch in reader.read(part):
                pass
        out["pbf.read_s"] = time.perf_counter() - t0
        out["pbf.arrow_s"] = out["pbf.read_s"] - inflate - decode

        # planning per query shape: partitions() and the dictionary probe
        plan_s, parts, kept, total = [], [], 0, 0
        for shape in SHAPES:
            q = make_query(shape)
            opts = {"path": self.path}
            keys = None
            if q is not None:
                kinds = [str(t) for t, on in ((0, q.nodes), (1, q.ways), (2, q.relations)) if on]
                opts["osmtypes"] = ",".join(kinds)
                keys = q.must_tags or (q.keep if q.keep and q.keep_first else None)
                if keys:
                    opts["any_tag_keys"] = ",".join(sorted(keys))
            r = PbfDataSourceReader(PBF_SCHEMA, opts)
            t0 = time.perf_counter()
            parts.append(len(r.partitions()))
            plan_s.append(time.perf_counter() - t0)
            total += len(spans)
            kept += (
                sum(
                    pbf_codec.blob_dictionary_has(self.path, s, frozenset(), frozenset(keys))
                    for s in spans
                )
                if keys
                else len(spans)
            )
        out["pbf.plan_s"] = statistics.mean(plan_s)
        out["pbf.partitions"] = statistics.mean(parts)
        out["pbf.blobs_kept_ratio"] = kept / total

        # the ingest path on the same extract: a noop scan, then bronze
        if self.past(
            deadline, "engine.scan_s", "engine.bronze_write_s", "engine.bronze_bytes",
            "engine.bronze_files",
        ):
            return out
        t0 = time.perf_counter()
        read_pbf(self.spark, self.path).write.format("noop").mode("overwrite").save()
        out["engine.scan_s"] = time.perf_counter() - t0
        from osmdatapy_spark.engine import OSM

        bronze = os.path.join(self.out, "bronze")
        t0 = time.perf_counter()
        OSM.from_pbf(self.spark, self.path).to_bronze(bronze)
        out["engine.bronze_write_s"] = time.perf_counter() - t0 - out["engine.scan_s"]
        out["engine.bronze_bytes"], out["engine.bronze_files"] = _dir_size(bronze)
        return out


CAP = 10  # per-source cap of the registry's llm_curation_recipe face


def _recipe_steps():
    """The default recipe's steps with its own parameters, then the
    substring step: prefixes of this list are differenced per step."""
    return [
        ("normalize", lambda c: c.normalize()),
        ("exact_dedup", lambda c: c.exact_dedup()),
        ("fuzzy_dedup", lambda c: c.fuzzy_dedup(threshold=0.5)),
        ("quality_filter", lambda c: c.quality_filter(min_tokens=20, max_tokens=95, min_diversity=0.3)),
        ("domain_cap", lambda c: c.domain_cap("source", CAP)),
        ("substring_dedup", lambda c: c.substring_dedup()),
    ]


class CurateCorpus(Workload):
    name = "curate_corpus"
    item_unit = "docs"
    action_span = "sinks.write_corpus_with_manifest"
    N_DOCS = 2000

    def prepare(self, seed: int) -> float:
        import gen_corpus

        self.path, self.expected, gen_s = _generate(
            gen_corpus.cached, os.path.join(self.work, "cache"), self.N_DOCS, seed, CAP
        )
        self.input_bytes = self.expected["input_bytes"]
        return gen_s

    def round(self) -> list[str]:
        return ["recipe"]

    def op(self, key: str, tr: Tracer) -> int:
        from osmdatapy_spark import sinks
        from osmdatapy_spark.curate import Curate

        with tr.span("curate.build"), self._py4j(tr, "curate.py4j_calls"):
            docs = self.spark.read.parquet(self.path)
            out = Curate.default_recipe(docs, domain_col="source", cap=CAP).substring_dedup().df()
        with tr.span("sinks.write_corpus_with_manifest"):
            sinks.write_corpus_with_manifest(out, self.dest, partition_by=["lang"])
        return self.expected["rows_in"]

    @property
    def dest(self) -> str:
        return os.path.join(self.out, "corpus")

    def _written(self):
        import pyarrow.dataset as ds

        return ds.dataset(self.dest, format="parquet", partitioning="hive").to_table(
            columns=["doc_id", "lang", "text"]
        )

    def check(self, key: str) -> str | None:
        import gen_corpus

        tab = self._written()
        got = gen_corpus.digest(
            zip(tab["doc_id"].to_pylist(), tab["lang"].to_pylist(), tab["text"].to_pylist())
        )
        manifest_rows = 0
        for f in glob.glob(os.path.join(self.dest, "_manifest", "*.json")):
            with open(f) as fh:
                manifest_rows += sum(json.loads(line)["n_rows"] for line in fh if line.strip())
        errs = []
        if tab.num_rows != self.expected["rows_out"]:
            errs.append(f"rows {tab.num_rows} != oracle {self.expected['rows_out']}")
        if got != self.expected["digest"]:
            errs.append("output digest differs from the oracle")
        if manifest_rows != tab.num_rows:
            errs.append(f"manifest n_rows {manifest_rows} != rows written {tab.num_rows}")
        return "; ".join(errs) or None

    def layers(self, ops: list[Op], deadline: float) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from osmdatapy_spark import sinks
        from osmdatapy_spark.curate import Curate

        out: dict = {}
        names = self.tr.by_name()
        traced = [o for o in ops if o.traced]
        n = max(1, len(traced))
        out["curate.build_s"] = names.get("curate.build", {}).get("total_s", 0.0) / n
        out["curate.py4j_calls"] = statistics.mean(self.counters.get("curate.py4j_calls", [0]))

        out["sinks.bytes_written"], out["sinks.files"] = _dir_size(self.dest)
        # prefix differencing: each prefix of the recipe to the noop sink
        steps = _recipe_steps()
        if self.past(
            deadline, *(f"curate.{name}_s" for name, _ in steps), "curate.rows_in",
            "curate.rows_out", "curate.dedup_drop_ratio", "sinks.write_s", "sinks.manifest_s",
        ):
            return out
        times, rows = [], []
        for k in range(len(steps) + 1):
            c = Curate(self.spark.read.parquet(self.path))
            for _, step in steps[:k]:
                step(c)
            obs = Observation()
            t0 = time.perf_counter()
            c.df().observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(time.perf_counter() - t0)
            rows.append(obs.get["n"])
        for k, (name, _) in enumerate(steps, start=1):
            out[f"curate.{name}_s"] = times[k] - times[k - 1]
        out["curate.rows_in"] = rows[0]
        out["curate.rows_out"] = rows[-1]
        out["curate.dedup_drop_ratio"] = 1.0 - rows[3] / rows[0]

        # the sink alone: write_corpus of the same plan minus its noop run;
        # the manifest is the op's sink call minus that write
        c = Curate(self.spark.read.parquet(self.path))
        for _, step in steps:
            step(c)
        plain = os.path.join(self.out, "plain")
        t0 = time.perf_counter()
        sinks.write_corpus(c.df(), plain, partition_by=["lang"])
        t_write = time.perf_counter() - t0
        out["sinks.write_s"] = t_write - times[-1]
        sink_total = names.get("sinks.write_corpus_with_manifest", {}).get("total_s", 0.0) / n
        out["sinks.manifest_s"] = sink_total - t_write
        return out


WORKLOADS = {w.name: w for w in (QueryMix, CurateCorpus)}

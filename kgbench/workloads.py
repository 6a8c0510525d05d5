"""The three benchmark workloads. Each one generates its inputs from the
seed, runs untimed set-up and warm-up, and then performs timed operations
(a full build, or one batch folded into the on-disk graph). The engine is
driven only through its public functions; a traced operation drives the
same phases one layer call at a time, one Spark job group per span.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from ontoweaver_spark.compiler import EDGE_SCHEMA, NODE_SCHEMA, compile_mapping
from ontoweaver_spark.fusion import has_property_conflict, merge_into_graph, reconciliate
from ontoweaver_spark.neo4j_export import write_neo4j_import
from ontoweaver_spark.pipeline import partition_metrics, run_pipeline
from ontoweaver_spark.rdf_export import graph_to_triples, write_ntriples
from ontoweaver_spark.spec import load_mapping

import gen
from check import Checker, count_lines, dir_bytes
from metrics import SHARES, zero_layers
from spans import stage_seconds

HERE = os.path.dirname(os.path.abspath(__file__))
WEB_MAPPING = os.path.join(HERE, "mappings", "web.yaml")
TABLE_MAPPING = os.path.join(HERE, "mappings", "table.yaml")

# run_pipeline's fusion policy, used by every path that fuses here
SEP = "|"
RAISE = False
# input parquet files per table: each is a unit of scan parallelism
INPUT_FILES = 4


@dataclass
class OpResult:
    seconds: float
    rows: int          # input rows folded by the operation
    edges: int = 0     # fused (src, label, dst) edges in the committed graph
    out_dir: str = ""  # where the committed graph lives
    layers: dict = field(default_factory=dict)  # traced operations only
    previous: str = ""  # web_upsert: the snapshot this one replaced
    out_bytes: int = 0  # on-disk bytes of the committed nodes + edges
    totals: dict = field(default_factory=dict)  # Spark work, traced runs only


def _write_graph(nodes, edges, out_dir: str) -> None:
    nodes.write.mode("overwrite").partitionBy("label").parquet(os.path.join(out_dir, "nodes"))
    edges.write.mode("overwrite").partitionBy("label").parquet(os.path.join(out_dir, "edges"))


def _commit(out_dir: str, manifest: dict) -> None:
    tmp = os.path.join(out_dir, "_manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, "_manifest.json"))


def _force_plan(df) -> None:
    """Have Catalyst analyze, optimize and plan ``df`` (no job runs)."""
    df._jdf.queryExecution().executedPlan()


def _sum(spans, key: str) -> float:
    return float(sum(s.total(key) for s in spans))


def _seconds(spans) -> float:
    return float(sum(s.seconds for s in spans))


def _out_stage_seconds(spans) -> float:
    """Wall time of the stages that write files (the write tail of a job)."""
    return float(sum(stage_seconds(st) for s in spans for st in s.stages
                     if st.get("outputBytes", 0) > 0))


def _shares(layers: dict, wall: float) -> dict:
    """Share of one traced operation's wall time spent in each layer's spans.
    A layer's span includes writing its own output: the compiler's staged
    raw rows, fusion's fused graph (``pipeline.write_s`` is that write tail,
    reported on its own and not subtracted here)."""
    groups = {
        "compiler": layers["spec.parse_s"] + layers["compiler.plan_s"]
        + layers["compiler.extract_s"],
        "fusion": layers["fusion.s"] + layers["fusion.merge_s"],
        "pipeline": layers["pipeline.count_s"],
        "exports": layers["neo4j_export.s"] + layers["rdf_export.s"],
    }
    return {name: groups[name.split(".")[1]] / wall for name in SHARES}


def _count_files(path: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def _files(path: str) -> str:
    """The parquet files of an input, as a glob DuckDB reads."""
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


class Workload:
    """Base: subclasses set the inputs and implement ``op``/``check``."""

    name = ""
    # Untimed operations before the timed ones. Operation time falls over a
    # fresh JVM's first operations (by 10-30% on the web workloads) while the
    # JIT compiles the hot paths; timed operations should start past that.
    WARMUP_OPS = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.ops_dir = os.path.join(work, "ops")
        self.n_ops = 0

    def out_dir(self) -> str:
        self.n_ops += 1
        return os.path.join(self.ops_dir, str(self.n_ops))

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self, spark, checker: Checker) -> None:
        raise NotImplementedError

    def op(self, spark, tracer=None) -> OpResult:
        raise NotImplementedError

    def check(self, checker: Checker, res: OpResult) -> list[str]:
        raise NotImplementedError

    def final_check(self, spark, checker: Checker) -> list[str]:
        return []

    def exhausted(self) -> bool:
        """True when the generated input allows no further operation."""
        return False

    def drift(self, plain: list[dict], traced: list[dict]) -> list[str]:
        """Differences between the Spark work (``Tracer.totals``) of plain
        and traced operations. Here the traced operation is the plain one
        with spans around its phases, so the two cannot differ."""
        return []

    def discard(self, res: OpResult) -> None:
        """Remove an operation's output once it has been checked."""
        shutil.rmtree(res.out_dir, ignore_errors=True)


class _BuildWorkload(Workload):
    """A full build: ``run_pipeline`` from input parquet to committed graph."""

    mapping = ""
    affix = "none"
    exports = False
    key_sql = ""        # DuckDB expression: input row -> subject node id
    text_prop = ""      # property carried byte-identical from the input
    text_col = ""
    # share by which a traced build's Spark work may differ from run_pipeline's
    DRIFT = 0.02

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.input = os.path.join(self.inputs, "input")

    def drift(self, plain: list[dict], traced: list[dict]) -> list[str]:
        """A traced build re-enacts ``run_pipeline`` phase by phase, so its
        layer figures describe the program only while it does the same Spark
        work: the same jobs and the same shuffle bytes written, within
        ``DRIFT``. A change to ``run_pipeline`` that the traced phases do not
        follow fails the traced run here."""
        fails = []
        for key in ("jobs", "shuffle_write_bytes"):
            want = statistics.median(p[key] for p in plain)
            got = statistics.median(t[key] for t in traced)
            if abs(got - want) > self.DRIFT * want:
                fails.append(f"traced build {key} {got} != run_pipeline's {want}: "
                             "the traced phases no longer follow run_pipeline")
        return fails

    def warmup(self, spark, checker: Checker) -> None:
        """Untimed builds, exactly like the timed ones."""
        out = os.path.join(self.work, "warm")
        for _ in range(self.WARMUP_OPS):
            self._build(spark, self.input, out)
            shutil.rmtree(out, ignore_errors=True)

    def _exports(self, spark, out: str) -> None:
        nodes = spark.read.parquet(os.path.join(out, "nodes"))
        edges = spark.read.parquet(os.path.join(out, "edges")).drop("properties")
        write_ntriples(graph_to_triples(nodes, edges), os.path.join(out, "rdf"))

    def _build(self, spark, path: str, out: str):
        rep = run_pipeline(
            spark, path, self.mapping, out, affix=self.affix,
            neo4j_out=os.path.join(out, "neo4j") if self.exports else None,
        )
        if self.exports:
            self._exports(spark, out)
        return rep

    def op(self, spark, tracer=None) -> OpResult:
        out = self.out_dir()
        if tracer is not None:
            return self._traced(spark, tracer, out)
        t0 = time.perf_counter()
        rep = self._build(spark, self.input, out)
        return OpResult(time.perf_counter() - t0, rep.rows_in, rep.fused_edges, out)

    def _traced(self, spark, tracer, out: str) -> OpResult:
        """The phases of ``run_pipeline`` (and the exports), one span each."""
        staging = os.path.join(out, "staging", "chunk-0")
        t0 = time.perf_counter()
        with tracer.span("spec.parse"):
            spec = load_mapping(self.mapping)
        with tracer.span("compiler.plan"):
            df = spark.read.parquet(self.input)
            res = compile_mapping(df, spec, affix=self.affix, validate_mode="report")
            _force_plan(res.nodes)
            _force_plan(res.edges)
        with tracer.span("compiler.extract"):
            res.nodes.write.mode("overwrite").parquet(os.path.join(staging, "nodes"))
            res.edges.write.mode("overwrite").parquet(os.path.join(staging, "edges"))
        with tracer.span("pipeline.partition_metrics"):
            rows = sum(m["rows"] for m in partition_metrics(df))
        with tracer.span("pipeline.count"):
            raw_nodes = spark.read.schema(NODE_SCHEMA).parquet(os.path.join(staging, "nodes"))
            raw_edges = spark.read.schema(EDGE_SCHEMA).parquet(os.path.join(staging, "edges"))
            n_raw_nodes, n_raw_edges = raw_nodes.count(), raw_edges.count()
        # lazy: fusion runs inside the spans that consume these frames
        fnodes, fedges = reconciliate(raw_nodes, raw_edges, reconciliate_sep=SEP,
                                      raise_errors=RAISE)
        if self.exports:
            with tracer.span("neo4j_export"):
                write_neo4j_import(fnodes, fedges, os.path.join(out, "neo4j"))
        with tracer.span("fusion"):
            _write_graph(fnodes, fedges, out)
        with tracer.span("pipeline.count"):
            counts = []
            for part, frame in (("nodes", fnodes), ("edges", fedges)):
                t = spark.read.schema(frame.schema).parquet(os.path.join(out, part))
                counts.append(t.agg(
                    F.count("*"), F.sum(has_property_conflict(t).cast("long"))
                ).collect()[0][0])
            n_nodes, n_edges = counts
        with tracer.span("pipeline.commit"):
            _commit(out, {"nodes": n_nodes, "edges": n_edges})
        if self.exports:
            with tracer.span("rdf_export"):
                self._exports(spark, out)
        wall = time.perf_counter() - t0
        tracer.collect()
        layers = self._layers(tracer, out, rows, n_raw_nodes, n_raw_edges, n_nodes, n_edges)
        layers.update(_shares(layers, wall))
        return OpResult(wall, rows, n_edges, out, layers)

    def _layers(self, tracer, out, rows, raw_n, raw_e, n_nodes, n_edges) -> dict:
        sp = tracer.named
        comp = sp("compiler.plan") + sp("compiler.extract")
        # the spans that scan the input parquet
        scans = sp("compiler.extract") + sp("pipeline.partition_metrics")
        fusion = sp("fusion")
        neo = sp("neo4j_export")
        rdf = sp("rdf_export")
        everything = tracer.spans
        fusion_shuffle = _sum(fusion, "shuffleWriteBytes")
        m = zero_layers()
        m.update({
            "spec.parse_s": _seconds(sp("spec.parse")),
            "compiler.plan_s": _seconds(sp("compiler.plan")),
            "compiler.extract_s": _seconds(sp("compiler.extract")),
            "compiler.cpu_s": _sum(comp, "executorCpuTime") / 1e9,
            "compiler.gc_s": _sum(comp, "jvmGcTime") / 1e3,
            "compiler.rows_in": rows,
            "compiler.raw_nodes": raw_n,
            "compiler.raw_edges": raw_e,
            "compiler.staging_bytes": dir_bytes(os.path.join(out, "staging")),
            "fusion.s": _seconds(fusion),
            "fusion.cpu_s": _sum(fusion, "executorCpuTime") / 1e9,
            "fusion.gc_s": _sum(fusion, "jvmGcTime") / 1e3,
            "fusion.shuffle_write_bytes": fusion_shuffle,
            "fusion.shuffle_read_bytes": _sum(fusion, "shuffleReadBytes"),
            "fusion.spill_bytes": _sum(fusion, "diskBytesSpilled"),
            "fusion.task_skew": tracer.task_skew(fusion),
            "fusion.node_dedup_ratio": n_nodes / max(raw_n, 1),
            "fusion.edge_dedup_ratio": n_edges / max(raw_e, 1),
            "fusion.shuffle_bytes_per_raw_row": fusion_shuffle / max(raw_n + raw_e, 1),
            "pipeline.write_s": _out_stage_seconds(fusion),
            "pipeline.count_s": _seconds(sp("pipeline.partition_metrics") + sp("pipeline.count")
                                         + sp("pipeline.commit")),
            "pipeline.output_bytes": dir_bytes(os.path.join(out, "nodes"))
            + dir_bytes(os.path.join(out, "edges")),
            "pipeline.output_files": _count_files(os.path.join(out, "nodes"))
            + _count_files(os.path.join(out, "edges")),
            "pipeline.jobs": sum(s.jobs for s in everything),
            "pipeline.scan_amplification": _sum(scans, "inputRecords") / rows,
            "pipeline.recompute_ratio":
                _sum(everything, "shuffleWriteBytes") / max(fusion_shuffle, 1),
        })
        if self.exports:
            m.update({
                "neo4j_export.s": _seconds(neo),
                "neo4j_export.jobs": sum(s.jobs for s in neo),
                "neo4j_export.shuffle_write_bytes": _sum(neo, "shuffleWriteBytes"),
                "neo4j_export.output_bytes": dir_bytes(os.path.join(out, "neo4j")),
                "rdf_export.s": _seconds(rdf),
                "rdf_export.triples": _sum(rdf, "outputRecords"),
                "rdf_export.output_bytes": dir_bytes(os.path.join(out, "rdf")),
            })
        return m

    def check(self, checker: Checker, res: OpResult) -> list[str]:
        out = res.out_dir
        n_nodes, n_edges, fails = checker.graph(out)
        if n_edges != res.edges:
            fails.append(f"engine reported {res.edges} edges, {n_edges} on disk")
        staging = os.path.join(out, "staging", "chunk-0")
        fails += checker.against_raw(out, os.path.join(staging, "nodes", "*.parquet"),
                                     os.path.join(staging, "edges", "*.parquet"))
        fails += checker.property_matches_input(
            out, [_files(self.input)], self.key_sql, self.text_prop, self.text_col)
        if self.exports:
            fails += self._check_exports(checker, out, n_nodes, n_edges)
        return fails

    def _check_exports(self, checker, out, n_nodes, n_edges) -> list[str]:
        fails = []
        neo_n = count_lines(os.path.join(out, "neo4j", "nodes_*", "data", "part-*"))
        neo_e = count_lines(os.path.join(out, "neo4j", "edges_*", "data", "part-*"))
        if (neo_n, neo_e) != (n_nodes, n_edges):
            fails.append(f"neo4j export rows {(neo_n, neo_e)} != graph {(n_nodes, n_edges)}")
        want = n_nodes + checker.property_values(out) + n_edges
        got = count_lines(os.path.join(out, "rdf", "part-*"))
        if got != want:
            fails.append(f"N-Triples lines {got} != expected {want}")
        return fails


class WebBuild(_BuildWorkload):
    """Crawled pages -> label-partitioned graph via ``run_pipeline``."""

    name = "web_build"
    mapping = WEB_MAPPING
    key_sql = "url"
    text_prop = "text"
    text_col = "text"
    PAGES = 12_000
    WARMUP_OPS = 4

    def generate(self) -> None:
        os.makedirs(self.inputs, exist_ok=True)
        urls = gen.page_urls(self.seed, self.PAGES)
        gen.write_parquet(gen.web_pages(self.seed, urls, np.arange(self.PAGES), 0),
                          self.input, INPUT_FILES)


class TableWide(_BuildWorkload):
    """Wide string table -> graph, then Neo4j bulk-import and N-Triples."""

    name = "table_wide"
    mapping = TABLE_MAPPING
    affix = "suffix"
    exports = True
    key_sql = "id || ':variant'"
    text_prop = "description"
    text_col = "description"
    ROWS = 3_000

    def generate(self) -> None:
        os.makedirs(self.inputs, exist_ok=True)
        gen.write_parquet(gen.table_rows(self.seed, self.ROWS), self.input, INPUT_FILES)


class WebUpsert(Workload):
    """A continuous crawl: batches folded one after another into the
    on-disk graph with ``merge_into_graph``; each committed snapshot is the
    next batch's history. Half of each batch re-crawls known urls."""

    name = "web_upsert"
    HISTORY = 5_000
    BATCH = 1_000
    MAX_BATCHES = 24  # batches generated; a run that folds them all ends there
    WARMUP_OPS = 5

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.history_input = os.path.join(self.inputs, "history")
        self.folded: list[str] = [self.history_input]  # inputs in the graph
        self.snapshot = ""
        self.snapshot_rows = 0  # nodes + edges of the live snapshot

    def batch_path(self, b: int) -> str:
        return os.path.join(self.inputs, f"batch-{b:03d}.parquet")

    def generate(self) -> None:
        os.makedirs(self.inputs, exist_ok=True)
        fresh = self.BATCH // 2
        urls = gen.page_urls(self.seed, self.HISTORY + self.MAX_BATCHES * fresh)
        gen.write_parquet(
            gen.web_pages(self.seed, urls, np.arange(self.HISTORY), 0,
                          link_space=self.HISTORY),
            self.history_input, INPUT_FILES)
        rng = np.random.default_rng([self.seed, 3])
        for b in range(self.MAX_BATCHES):
            known = self.HISTORY + b * fresh
            rows = np.concatenate([
                rng.choice(known, self.BATCH - fresh, replace=False),
                np.arange(known, known + fresh),
            ])
            gen.write_parquet(
                gen.web_pages(self.seed, urls, rows, b + 1, link_space=known + fresh),
                self.batch_path(b))

    def warmup(self, spark, checker: Checker) -> None:
        """Build the history with ``run_pipeline`` and fold untimed batches."""
        out = os.path.join(self.work, "history")
        rep = run_pipeline(spark, self.history_input, WEB_MAPPING, out)
        self.snapshot, self.snapshot_rows = out, rep.fused_nodes + rep.fused_edges
        for _ in range(self.WARMUP_OPS):
            res = self.op(spark)
            fails = self.check(checker, res)
            if fails:
                raise RuntimeError(f"warm-up batch failed its check: {fails}")
            self.discard(res)

    def exhausted(self) -> bool:
        """Every generated batch is folded in: the run ends there."""
        return len(self.folded) - 1 >= self.MAX_BATCHES

    def op(self, spark, tracer=None) -> OpResult:
        b = len(self.folded) - 1
        if b >= self.MAX_BATCHES:
            raise RuntimeError("web_upsert ran out of generated batches")
        batch = self.batch_path(b)
        out = self.out_dir()
        history = (dir_bytes(self.snapshot), self.snapshot_rows)
        span = tracer.span if tracer is not None else (lambda name: nullcontext())
        t0 = time.perf_counter()
        with span("spec.parse"):
            spec = load_mapping(WEB_MAPPING)
        with span("compiler.plan"):
            res = compile_mapping(spark.read.parquet(batch), spec, validate_mode="report")
            if tracer is not None:
                _force_plan(res.nodes)
                _force_plan(res.edges)
        with span("fusion.merge"):
            hn = spark.read.parquet(os.path.join(self.snapshot, "nodes"))
            he = spark.read.parquet(os.path.join(self.snapshot, "edges"))
            nodes, edges = merge_into_graph(hn, he, res.nodes, res.edges,
                                            reconciliate_sep=SEP, raise_errors=RAISE)
            _write_graph(nodes, edges, out)
        with span("pipeline.commit"):
            _commit(out, {"history": self.snapshot, "batch": batch})
        wall = time.perf_counter() - t0
        self.folded.append(batch)
        previous, self.snapshot = self.snapshot, out
        res = OpResult(wall, self.BATCH, 0, out, previous=previous)
        if tracer is not None:
            tracer.collect()
            res.layers = self._layers(tracer, out, history)
            res.layers.update(_shares(res.layers, wall))
        return res

    def _layers(self, tracer, out: str, history: tuple[int, int]) -> dict:
        sp = tracer.named
        merge = sp("fusion.merge")
        # Stages that scan the batch read exactly its rows; the other scans
        # read the history snapshot. Spark's parquet reader under-reports
        # inputBytes, so bytes are estimated from rows at the snapshot's
        # mean on-disk row size.
        records = _sum(merge, "inputRecords")
        batch_records = sum(st["inputRecords"] for s in merge for st in s.stages
                            if st.get("inputRecords") == self.BATCH)
        hist_bytes, hist_rows = history
        hist = (records - batch_records) * hist_bytes / max(hist_rows, 1)
        m = zero_layers()
        m.update({
            "spec.parse_s": _seconds(sp("spec.parse")),
            "compiler.plan_s": _seconds(sp("compiler.plan")),
            "compiler.rows_in": self.BATCH,
            "fusion.merge_s": _seconds(merge),
            "fusion.merge_history_bytes_read": float(hist),
            "fusion.merge_shuffle_bytes": _sum(merge, "shuffleWriteBytes"),
            "fusion.cpu_s": _sum(merge, "executorCpuTime") / 1e9,
            "fusion.gc_s": _sum(merge, "jvmGcTime") / 1e3,
            "fusion.shuffle_write_bytes": _sum(merge, "shuffleWriteBytes"),
            "fusion.shuffle_read_bytes": _sum(merge, "shuffleReadBytes"),
            "fusion.spill_bytes": _sum(merge, "diskBytesSpilled"),
            "fusion.task_skew": tracer.task_skew(merge),
            "pipeline.write_s": _out_stage_seconds(merge),
            "pipeline.count_s": _seconds(sp("pipeline.commit")),
            "pipeline.output_bytes": dir_bytes(os.path.join(out, "nodes"))
            + dir_bytes(os.path.join(out, "edges")),
            "pipeline.output_files": _count_files(out),
            "pipeline.jobs": sum(s.jobs for s in tracer.spans),
            "pipeline.scan_amplification":
                _sum(tracer.spans, "inputRecords") / (self.BATCH + hist_rows),
            "pipeline.recompute_ratio": _sum(tracer.spans, "shuffleWriteBytes")
            / max(_sum(merge, "shuffleWriteBytes"), 1),
        })
        return m

    def check(self, checker: Checker, res: OpResult) -> list[str]:
        n_nodes, res.edges, fails = checker.graph(res.out_dir)
        self.snapshot_rows = n_nodes + res.edges
        fails += checker.property_matches_input(
            res.out_dir, [_files(p) for p in self.folded], "url", "text", "text")
        return fails

    def discard(self, res: OpResult) -> None:
        """Keep the live snapshot; drop the one it replaced."""
        if res.previous.startswith(self.ops_dir):
            shutil.rmtree(res.previous, ignore_errors=True)

    def final_check(self, spark, checker: Checker) -> list[str]:
        """The final snapshot equals fusing every raw input from scratch."""
        raw = compile_mapping(spark.read.parquet(*self.folded), load_mapping(WEB_MAPPING),
                              validate_mode="report")
        ref = os.path.join(self.work, "reference")
        nodes, edges = reconciliate(raw.nodes, raw.edges, reconciliate_sep=SEP,
                                    raise_errors=RAISE)
        _write_graph(nodes, edges, ref)
        want, got = checker.digest(ref), checker.digest(self.snapshot)
        if want != got:
            return [f"final snapshot digest {got} != re-fused digest {want}"]
        return []


WORKLOADS = {w.name: w for w in (WebBuild, TableWide, WebUpsert)}

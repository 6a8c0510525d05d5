"""Tests of the benchmark itself: seeded inputs, metric names, and an output
checker that rejects corrupted graphs.

    python3 -m pytest kgbench/tests -q
"""

import filecmp
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import run
from check import Checker
from metrics import END_TO_END, PER_LAYER

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"[A-Za-z0-9_.-]+")
PROPS = pa.map_(pa.string(), pa.list_(pa.string()))


# --- generators ------------------------------------------------------------

def _web(seed, path):
    urls = gen.page_urls(seed, 500)
    gen.write_parquet(gen.web_pages(seed, urls, np.arange(500), 0), path, 4)


def _dirs_equal(a, b):
    cmp = filecmp.dircmp(a, b)
    return (not cmp.left_only and not cmp.right_only
            and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                    for f in cmp.common_files))


def test_web_pages_same_seed_same_bytes(tmp_path):
    _web(7, tmp_path / "a")
    _web(7, tmp_path / "b")
    _web(8, tmp_path / "c")
    assert _dirs_equal(tmp_path / "a", tmp_path / "b")
    assert not _dirs_equal(tmp_path / "a", tmp_path / "c")


def test_table_rows_same_seed_same_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_parquet(gen.table_rows(seed, 300), str(tmp_path / name))
    assert filecmp.cmp(tmp_path / "a", tmp_path / "b", shallow=False)
    assert not filecmp.cmp(tmp_path / "a", tmp_path / "c", shallow=False)


def test_table_is_wide_and_all_strings():
    t = gen.table_rows(1, 50)
    assert t.num_columns >= 40
    assert all(f.type == pa.string() for f in t.schema)


def test_outlinks_are_whole_urls_and_skewed():
    urls = gen.page_urls(3, 2000)
    pages = gen.web_pages(3, urls, np.arange(2000), 0)
    links = [u for t in pages["text"].to_pylist()
             for u in re.findall(r"https://[a-z0-9.]+/p[0-9]+", t)]
    assert set(links) <= set(urls)
    counts = np.bincount([int(u.rsplit("/p", 1)[1]) for u in links])
    assert counts.max() > 20 * np.median(counts[counts > 0])  # hub pages


# --- metric names ------------------------------------------------------------

def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert e2e == END_TO_END
    assert layers == PER_LAYER
    for name, (unit, better) in {**e2e, **layers}.items():
        assert NAME.fullmatch(name), name
        assert unit and better in ("lower", "higher"), name


# --- output checker ------------------------------------------------------------

def _write_graph(root, nodes, edges):
    """nodes: [(id, label, {prop: [values]})]; edges: [(id, src, dst, label)]."""
    for part, rows in (("nodes", nodes), ("edges", edges)):
        for label in sorted({r[1] if part == "nodes" else r[3] for r in rows}):
            d = os.path.join(root, part, f"label={label}")
            os.makedirs(d, exist_ok=True)
            if part == "nodes":
                sel = [r for r in rows if r[1] == label]
                t = pa.table({"id": [r[0] for r in sel],
                              "properties": pa.array([list(r[2].items()) for r in sel], PROPS)})
            else:
                sel = [r for r in rows if r[3] == label]
                t = pa.table({"id": [r[0] for r in sel], "src": [r[1] for r in sel],
                              "dst": [r[2] for r in sel],
                              "properties": pa.array([[] for _ in sel], PROPS)})
            pq.write_table(t, os.path.join(d, "part-0.parquet"))


@pytest.fixture
def graph(tmp_path):
    """A correct fused graph, its staged raw output and its input."""
    inp = tmp_path / "input.parquet"
    pq.write_table(pa.table({"url": ["a", "b"], "text": ["alpha", "beta"]}), inp)
    nodes = [("a", "page", {"text": ["alpha"]}), ("b", "page", {"text": ["beta"]}),
             ("c", "page", {})]
    edges = [("e1", "a", "b", "links_to"), ("e2", "a", "c", "links_to"),
             ("e3", "b", "c", "links_to")]
    raw = tmp_path / "raw"
    raw.mkdir()
    pq.write_table(pa.table({"id": ["a", "b", "c", "c"]}), raw / "nodes.parquet")
    pq.write_table(pa.table({"src": ["a", "a", "b", "b"], "dst": ["b", "c", "c", "c"],
                             "label": ["links_to"] * 4}), raw / "edges.parquet")

    def check(nodes=nodes, edges=edges):
        out = tmp_path / "out"
        shutil.rmtree(out, ignore_errors=True)
        _write_graph(str(out), nodes, edges)
        c = Checker()
        try:
            _, _, fails = c.graph(str(out))
            fails += c.against_raw(str(out), str(raw / "nodes.parquet"),
                                   str(raw / "edges.parquet"))
            fails += c.property_matches_input(str(out), [str(inp)], "url", "text", "text")
        finally:
            c.close()
        return fails

    return check, nodes, edges


def test_checker_accepts_correct_graph(graph):
    check, _, _ = graph
    assert check() == []


def test_checker_rejects_dropped_edge(graph):
    check, nodes, edges = graph
    assert any("fused edges" in f for f in check(edges=edges[:-1]))


def test_checker_rejects_altered_text_byte(graph):
    check, nodes, edges = graph
    bad = [("a", "page", {"text": ["alphb"]})] + nodes[1:]
    assert any("'text'" in f for f in check(nodes=bad))


def test_checker_rejects_duplicate_node_and_dangling_edge(graph):
    check, nodes, edges = graph
    assert any("duplicate node ids" in f for f in check(nodes=nodes + [nodes[0]]))
    assert any("not a node" in f for f in check(nodes=nodes[:-1]))
    assert any("duplicate (src, label, dst)" in f
               for f in check(edges=edges + [("e4", "a", "b", "links_to")]))


def test_digest_ignores_order_and_sees_values(tmp_path):
    nodes = [("a", "page", {"text": ["x", "y"], "k": ["1"]}), ("b", "page", {})]
    shuffled = [("b", "page", {}), ("a", "page", {"k": ["1"], "text": ["y", "x"]})]
    changed = [("a", "page", {"text": ["x", "z"], "k": ["1"]}), ("b", "page", {})]
    edges = [("e1", "a", "b", "links_to")]
    c = Checker()
    try:
        digests = []
        for name, ns in (("one", nodes), ("two", shuffled), ("three", changed)):
            _write_graph(str(tmp_path / name), ns, edges)
            digests.append(c.digest(str(tmp_path / name)))
    finally:
        c.close()
    assert digests[0] == digests[1] != digests[2]


# --- the checker and the tracer on real engine output ------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS"):
        mp.setenv(key, os.environ.get(key, ""))  # restored after the module
    session = run.start_session(str(tmp_path_factory.mktemp("spark")))
    yield session
    run.stop_session(session)
    mp.undo()


def _small_web(work):
    from workloads import WebBuild

    class SmallWeb(WebBuild):
        PAGES = 300

    wl = SmallWeb(str(work), 5)
    wl.generate()
    return wl


def _rewrite(path, edit):
    t = pq.read_table(path)
    pq.write_table(pa.Table.from_pylist(edit(t.to_pylist()), schema=t.schema), path)


def test_checker_rejects_corrupted_engine_output(tmp_path, spark):
    import glob

    wl = _small_web(tmp_path)
    res = wl.op(spark)
    c = Checker()
    try:
        assert wl.check(c, res) == []

        edge_file = sorted(glob.glob(os.path.join(res.out_dir, "edges", "*", "*.parquet")))[0]
        original = pq.read_table(edge_file)
        _rewrite(edge_file, lambda rows: rows[1:])
        assert any("fused edges" in f for f in wl.check(c, res))
        pq.write_table(original, edge_file)
        assert wl.check(c, res) == []

        def flip_text_byte(rows):
            for r in rows:
                props = dict(r["properties"])
                if "text" in props:
                    text = props["text"][0]
                    props["text"] = [text[:-1] + chr(ord(text[-1]) ^ 1)]
                    r["properties"] = list(props.items())
                    return rows
            raise AssertionError("no page text in this file")

        page_file = sorted(glob.glob(os.path.join(res.out_dir, "nodes", "label=page",
                                                  "*.parquet")))[0]
        _rewrite(page_file, flip_text_byte)
        assert any("'text'" in f for f in wl.check(c, res))
    finally:
        c.close()


def test_traced_build_reports_every_layer_metric(tmp_path, spark):
    from spans import Tracer

    wl = _small_web(tmp_path)
    tracer = Tracer(spark)
    res = wl.op(spark, tracer)
    assert set(PER_LAYER) - set(res.layers) == {"session.start_s", "trace.overhead_s"}
    assert res.layers["fusion.shuffle_write_bytes"] > 0
    assert res.layers["compiler.raw_edges"] >= res.edges > 0
    assert res.layers["pipeline.jobs"] > 0
    # whole scans of the input: at least one, and no staged or fused reads
    scans = res.layers["pipeline.scan_amplification"]
    assert scans >= 1.0 and scans.is_integer()
    c = Checker()
    try:
        assert wl.check(c, res) == []
    finally:
        c.close()

    # the traced phases do the Spark work run_pipeline does
    plain = Tracer(spark)
    with plain.span("op"):
        wl.op(spark)
    plain.collect()
    assert wl.drift([plain.totals()], [tracer.totals()]) == []


def test_drift_flags_traced_build_that_differs_from_run_pipeline(tmp_path):
    from workloads import WebBuild

    wl = WebBuild(str(tmp_path), 1)
    plain = [{"jobs": 21, "shuffle_write_bytes": 1000.0}] * 3
    assert wl.drift(plain, [{"jobs": 21, "shuffle_write_bytes": 1010.0}]) == []
    assert any("jobs" in f for f in wl.drift(plain, [{"jobs": 20,
                                                      "shuffle_write_bytes": 1000.0}]))
    assert any("shuffle_write_bytes" in f
               for f in wl.drift(plain, [{"jobs": 21, "shuffle_write_bytes": 1100.0}]))


def test_upsert_run_that_uses_up_its_batches_is_correct(tmp_path, spark, monkeypatch):
    import argparse

    import workloads

    class TinyUpsert(workloads.WebUpsert):
        HISTORY = 200
        BATCH = 40
        MAX_BATCHES = 4
        WARMUP_OPS = 1

    monkeypatch.setitem(workloads.WORKLOADS, "web_upsert", TinyUpsert)
    monkeypatch.setattr(run, "start_session", lambda work: spark)
    monkeypatch.setattr(run, "stop_session", lambda session: None)
    args = argparse.Namespace(workload="web_upsert", seed=5, seconds=1e6, trace=0)
    result = run.measure(args, str(tmp_path))
    # one batch is folded in warm-up, the other three are timed, then the
    # run ends instead of failing for want of input
    assert (result["correct"], result["attempted"], result["failed"]) == (True, 3, 0)

"""Self-tests of the benchmark's own machinery; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
from lifecycle import expected_report, restore_mismatches  # noqa: E402

DATA = os.path.join(HERE, "data")


# -- tail percentile rule ---------------------------------------------------

def test_tail_needs_ten_samples_beyond():
    assert stats.tail(range(10)) is None
    pct, value, n = stats.tail(range(1, 12))
    assert (pct, value, n) == (100 / 11, 1, 11)
    pct, value, n = stats.tail(range(1, 101))
    assert (pct, value, n) == (90.0, 90, 100)
    # exactly ten samples lie above the reported value
    xs = list(range(1, 101))
    assert sum(x > value for x in xs) == 10


# -- generator determinism --------------------------------------------------

def _written(tmp_path, seed, sub):
    out = tmp_path / sub
    gen.write_tables(str(out), gen.make_tables(seed, scale=0.0005, docs=60, vecs=20))
    return {p.name: p.read_bytes() for p in sorted(out.iterdir())}


def test_tables_same_seed_same_bytes(tmp_path):
    a, b = _written(tmp_path, 7, "a"), _written(tmp_path, 7, "b")
    assert a == b
    c = _written(tmp_path, 8, "c")
    assert a.keys() == c.keys()
    assert a["documents.parquet"] != c["documents.parquet"]
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_tables_have_near_duplicates():
    docs = gen.make_documents(3, 400).column("text").to_pylist()
    assert sum(d.endswith(" dup") or " dup " in d for d in docs) >= 5


def test_sstable_tree_reused_sstables_identical(tmp_path):
    tree = gen.SSTableTree(5, str(tmp_path / "a"), keyspaces=1, tables=2, sstables=8)
    first = tree.snapshot("s0")
    replaced = tree.compact(0.25)
    assert replaced == 4  # 2 of 8 per table
    second = tree.snapshot("s1")
    n_comp = len(gen.COMPONENTS + ("Digest.crc32",))
    assert len(second) == 2 * 8 * n_comp
    shared = first.keys() & second.keys()
    assert len(shared) == 2 * 6 * n_comp
    assert all(first[k] == second[k] for k in shared)
    # the snapshot on disk holds exactly the returned bytes
    tdir = tree.table_dir("ks0", "t0")
    for name in os.listdir(os.path.join(tdir, "snapshots", "s1")):
        with open(os.path.join(tdir, "snapshots", "s1", name), "rb") as fh:
            assert fh.read() == second[os.path.relpath(os.path.join(tdir, name), tree.root)]
    # same seed, fresh tree: byte-identical; another seed: different bytes
    again = gen.SSTableTree(5, str(tmp_path / "b"), keyspaces=1, tables=2, sstables=8)
    assert again.snapshot("s0") == first
    other = gen.SSTableTree(6, str(tmp_path / "c"), keyspaces=1, tables=2, sstables=8)
    assert other.snapshot("s0") != first


def test_component_bytes_depend_only_on_identity():
    a = gen.component_bytes(1, "ks0", "t0", 3, "Data.db")
    assert a == gen.component_bytes(1, "ks0", "t0", 3, "Data.db")
    assert a != gen.component_bytes(1, "ks0", "t0", 4, "Data.db")
    assert a != gen.component_bytes(1, "ks0", "t1", 3, "Data.db")
    assert a != gen.component_bytes(2, "ks0", "t0", 3, "Data.db")
    digest = gen.component_bytes(1, "ks0", "t0", 3, "Digest.crc32")
    assert int(digest) == __import__("zlib").crc32(a)


def test_split_stream_seeded_arrival_order(tmp_path):
    import pyarrow.parquet as pq

    docs = gen.make_documents(4, 50)

    def ids(sub, seed):
        paths = gen.split_stream(seed, docs, str(tmp_path / sub), 4)
        assert [os.path.getmtime(p) for p in paths] == sorted(
            os.path.getmtime(p) for p in paths)
        return [pq.read_table(p).column("doc_id").to_pylist() for p in paths]

    a, b, c = ids("a", 1), ids("b", 1), ids("c", 2)
    assert a == b and a != c
    assert sorted(sum(a, [])) == list(range(50))


# -- event-log parser and span folding --------------------------------------

def _recorded():
    jobs, stages = tracing.parse_eventlog([os.path.join(DATA, "eventlog.jsonl")])
    with open(os.path.join(DATA, "spans.json")) as fh:
        spans = json.load(fh)
    return jobs, stages, spans


def test_parser_reads_jobs_stages_and_groups():
    jobs, stages, _ = _recorded()
    assert len(jobs) == 13
    assert {j["group"] for j in jobs.values()} == {"s1", "s2"}
    assert jobs[0]["module"] == "operators.manifest"
    assert jobs[11]["module"] is None  # an action the caller ran itself
    assert all(sid in stages for j in jobs.values() for sid in j["stages"]
               if stages.get(sid, {}).get("tasks"))
    tot = tracing.job_totals(jobs.keys(), jobs, stages)
    assert tot["jobs"] == 13
    assert tot["tasks"] == sum(s["tasks"] for s in stages.values())
    assert tot["cpu_ns"] > 0 and tot["span_ms"] > 0


def test_jobs_between_selects_by_submission_time():
    jobs, _, _ = _recorded()
    assert tracing.jobs_between(jobs, 1792212214000, 1792212215000) == {11, 12}
    assert tracing.jobs_between(jobs, 0, 1) == set()


def test_fold_rolls_child_jobs_into_parents():
    jobs, _, spans = _recorded()
    owned = tracing.fold_into_spans(spans, jobs)
    assert sorted(owned["s1"]) == list(range(11))
    assert sorted(owned["s0"]) == list(range(11))  # parent of s1, no own jobs
    assert sorted(owned["s2"]) == [11, 12]


def test_self_time_subtracts_children():
    spans = [
        {"id": "s0", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "s1", "parent": "s0", "start": 1.0, "end": 4.0},
        {"id": "s2", "parent": "s0", "start": 5.0, "end": 7.0},
        {"id": "s3", "parent": "s1", "start": 2.0, "end": 3.0},
    ]
    st = tracing.self_times(spans)
    assert st == {"s0": 5.0, "s1": 2.0, "s2": 2.0, "s3": 1.0}


def test_module_of_call_site():
    assert tracing.module_of(
        "foreachPartition at /a/b/esop_spark/operators/pipelines.py:175"
    ) == "operators.pipelines"
    assert tracing.module_of("collect at /a/perfbench/queries.py:65") is None


def test_tracer_spans_nest_and_time():
    tr = tracing.Tracer()
    with tr.span("unit"):
        with tr.span("op", op="x"):
            with tr.span("inner"):
                pass
    unit, op, inner = tr.spans
    assert op["parent"] == unit["id"] and inner["parent"] == op["id"]
    assert inner["op"] == "x"
    assert unit["start"] <= op["start"] <= inner["end"] <= unit["end"]


def test_per_layer_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer"]
    assert [(m["name"], m["unit"]) for m in declared] == layers.PER_LAYER


# -- lifecycle gates --------------------------------------------------------

def test_restore_gate_catches_corruption(tmp_path):
    expected = {"ks0/t0-abc/nb-1-big-Data.db": b"x" * 64,
                "ks0/t0-abc/nb-1-big-TOC.txt": b"toc"}
    for rel, data in expected.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    assert restore_mismatches(str(tmp_path), expected) == []
    (tmp_path / "ks0/t0-abc/nb-1-big-Data.db").write_bytes(b"x" * 63 + b"y")
    assert restore_mismatches(str(tmp_path), expected) == ["ks0/t0-abc/nb-1-big-Data.db"]
    (tmp_path / "ks0/t0-abc/nb-1-big-TOC.txt").unlink()
    assert len(restore_mismatches(str(tmp_path), expected)) == 2


def test_expected_report_counts_shared_objects_once():
    manifests = {"b-1": {"o1": 10, "o2": 5}, "b-2": {"o1": 10, "o3": 7}}
    rep = expected_report(manifests)
    assert rep["rows"] == {"b-1": (2, 15, 5), "b-2": (2, 17, 7)}
    assert rep["totals"] == (3, 22, 12)

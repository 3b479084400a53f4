"""Per-layer metrics of a traced run (``--trace 1``).

Layers are the program's modules. Their figures come from three sources:
spans the benchmark opens around calls into public functions (including
calls the program makes itself, through ``tracing.instrumented``), the
Spark jobs each span tagged (folded from the event log), and stages
attributed to a module by their Python call site. ``PER_LAYER`` is the
full list, in the order and with the units ``BENCHMARK.json`` declares; a
metric of a layer the workload does not touch reads 0.
"""

from __future__ import annotations

from contextlib import contextmanager

import stats
from tracing import (fold_into_spans, instrumented, job_totals, jobs_between, module_of,
                     self_times)

# the operator entry points the near-dup queries call, by module
CURATION_ENTRY_POINTS = {
    "dedup": ("ngram_jaccard_pairs", "weighted_jaccard_pairs", "weighted_minhash_lsh_pairs"),
    "similarity": ("cosine_pairs", "cosine_pairs_lsh"),
}
# trace-only commands of the near-dup run, each with the operator module it
# exercises: the fixture-backed esop commands (ROADMAP items 5 and 6), the
# co-order graph census, and the two job-count-bound LSH queries (item 5)
PROBE_COMMANDS = {
    "q01_list_backups": "manifest", "q03_upload_diff": "diff",
    "q08_entity_filter": "entities", "q45_global_listing": "fleet",
    "q46_global_removal": "fleet", "q268_compaction_plan": "retention",
    "q293_delete_batches": "retention", "q278_component_census": "graph",
    "q301_cosine_pairs_lsh": None, "q304_weighted_minhash_lsh": None,
}
NO_FIXTURES = {"q278_component_census", "q301_cosine_pairs_lsh", "q304_weighted_minhash_lsh"}
COMMAND_MODULES = ("manifest", "diff", "retention", "fleet", "entities")
QUERY_KEYS = ("q23", "q25", "q303", "q01", "q45", "q46", "q268", "q293", "q301", "q304")

PER_LAYER: list[tuple[str, str]] = (
    [("session.jobs_per_op", "count"), ("session.tasks_per_op", "count"),
     ("session.sched_wait_s", "s"), ("session.gc_s", "s"), ("session.live_heap_mb", "MB"),
     ("trace.overhead_s", "s"),
     ("lifecycle.backup_s", "s"), ("lifecycle.restore_s", "s"),
     ("lifecycle.stored_bytes_ratio", "ratio"),
     ("snapshot_scan.scan_s", "s"), ("snapshot_scan.files", "count"),
     ("snapshot_scan.mb", "MB"),
     ("pipelines.backup_jobs", "count"), ("pipelines.backup_cpu_s", "s"),
     ("pipelines.copy_s", "s"), ("pipelines.upload_ratio", "ratio"),
     ("pipelines.remove_s", "s"), ("pipelines.removed_objects", "count"),
     ("pipelines.verify_s", "s"), ("pipelines.downloaded", "count"),
     ("manifest_json.write_s", "s"), ("manifest_json.read_s", "s"),
     ("manifest.report_s", "s"),
     ("fixtures.derive_s", "s"), ("fixtures.jobs", "count")]
    + [(f"{m}.{k}", u) for m in COMMAND_MODULES
       for k, u in (("exec_s", "s"), ("jobs", "count"), ("cpu_s", "s"), ("shuffle_mb", "MB"))]
    + [(f"{m}.{k}", u) for m in (*CURATION_ENTRY_POINTS, "graph")
       for k, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("cpu_s", "s"),
                    ("shuffle_mb", "MB"), ("spill_mb", "MB"))]
    + [("dedup.candidate_pairs", "count"), ("dedup.verify_yield", "ratio")]
    + [(f"query.{q}.{k}", u) for q in QUERY_KEYS for k, u in (("s", "s"), ("jobs", "count"))]
    + [(f"containment_stream.{k}", u) for k, u in (
        ("add_batch_p50_s", "s"), ("add_batch_tail_s", "s"), ("overhead_s", "s"),
        ("jobs_per_batch", "count"), ("read_mb_per_batch", "MB"),
        ("write_mb_per_batch", "MB"), ("state_mb", "MB"), ("growth", "ratio"))]
    + [(f"dedup_stream.{k}", u) for k, u in (
        ("add_batch_p50_s", "s"), ("jobs_per_batch", "count"),
        ("write_mb_per_batch", "MB"), ("state_mb", "MB"))]
)


@contextmanager
def instrumentation(tracer, workload: str):
    """Spans around calls into the layers: the manifest layers as the
    backup pipeline calls them, the curation operators as the queries do."""
    from esop_spark.operators import dedup, manifest, similarity
    from esop_spark.sources import manifest_json

    if workload == "neardup":
        mods = {"dedup": dedup, "similarity": similarity}
        targets = [(mods[m], fn, f"{m}.{fn}")
                   for m, fns in CURATION_ENTRY_POINTS.items() for fn in fns]
    else:
        targets = [
            (manifest_json, "write_manifests", "manifest_json.write"),
            (manifest_json, "read_manifests", "manifest_json.read"),
            (manifest, "render_report", "manifest.report"),
        ]
    with instrumented(tracer, targets):
        yield


def probes(workload: str, w, tracer) -> None:
    """Trace-only measurements that need extra calls into the program:
    layers the workload's timed units do not reach."""
    if workload == "lifecycle":
        _scan_probe(w, tracer)
        _stream_probe(w, tracer)
    else:
        _candidate_probe(w, tracer)
        _command_probe(w, tracer)


def _scan_probe(w, tracer) -> None:
    """Materialize every column of one snapshot scan (``count()`` would
    prune the digest columns away) on a fresh snapshot of the live tree."""
    import os
    import shutil

    from esop_spark.sources import snapshot_scan

    files = w.tree.snapshot("probe")
    with tracer.span("snapshot_scan.scan"):
        (snapshot_scan.scan_snapshot_tree(w.spark, [w.data_dir], "probe")
         .write.format("noop").mode("overwrite").save())
    for ks, table in w.tree.tables:
        shutil.rmtree(os.path.join(w.tree.table_dir(ks, table), "snapshots", "probe"))
    w.scanned = (len(files), sum(len(b) for b in files.values()))


def _stream_probe(w, tracer) -> None:
    """Replay both compacted-state streams across a fold and gate each
    replay's pair set against its batch operator."""
    import replay

    w.streams = replay.replay(w.spark, tracer, w.work, w.seed)
    for name, r in w.streams.items():
        w._gate(r["pairs"] == r["want"],
                f"{name} replay: {len(r['pairs'])} pairs, the batch operator "
                f"gives {len(r['want'])} ({len(r['pairs'] ^ r['want'])} differ)")


def _candidate_probe(w, tracer) -> None:
    """Rows entering q23's exact Jaccard verifier (its operator at
    threshold 0 keeps every pair that shares a shingle) and the share of
    them the verifier keeps at q23's threshold."""
    import os

    import __spark_entry__ as entry
    from esop_spark.operators import dedup

    docs = w.spark.read.parquet(os.path.join(w.sf_dir, "documents.parquet"))
    with tracer.span("dedup.candidates"):
        cands = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.0).count()
        kept = dedup.ngram_jaccard_pairs(docs, n=3, threshold=entry.JACCARD_TAU).count()
    w.candidates = (cands, kept)


def _command_probe(w, tracer) -> None:
    """Each of ``PROBE_COMMANDS`` once, from released caches as a fresh
    command would start. The fixture derivation (view registration plus
    materializing the cached ``manifest_entries``) gets a span of its own
    before the command; every answer joins the oracle check."""
    from esop_spark.sources import fixtures
    from neardup import release_caches

    for name in PROBE_COMMANDS:
        release_caches(w.spark)
        if name not in NO_FIXTURES:
            with tracer.span("fixtures.derive", op=name):
                fixtures.register_fixture_views(w.spark, w.sf_dir)
                w.spark.table("manifest_entries").count()
        with tracer.span("command", op=name):
            with tracer.span("build"):
                df = w.queries[name](w.spark, w.sf_dir)
            with tracer.span("exec"):
                rows = df.collect()
        w.results.append((name, df.columns, [tuple(r) for r in rows]))


def self_time_by_name(spans: list[dict]) -> list[tuple[str, float]]:
    """Total self time per span name (per op for the workload's ops),
    largest first: where the traced run's wall time went."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        key = (f"{s['name']}:{s['op']}" if s["name"] in ("esop_op", "query", "command")
               else s["name"])
        out[key] = out.get(key, 0.0) + own[s["id"]]
    return sorted(out.items(), key=lambda kv: -kv[1])


def _med(xs) -> float:
    return stats.median(list(xs))


def per_layer(workload: str, w, untraced, traced, jobs: dict, stages: dict) -> dict:
    out = {name: (0.0, unit) for name, unit in PER_LAYER}

    def put(name, value):
        out[name] = (float(value), out[name][1])

    owned = fold_into_spans(traced.spans, jobs)
    totals = {s["id"]: job_totals(owned[s["id"]], jobs, stages) for s in traced.spans}
    ops = [s for s in traced.spans if s["name"] == w.op_name]
    n = max(len(ops), 1)
    put("session.jobs_per_op", sum(totals[s["id"]]["jobs"] for s in ops) / n)
    put("session.tasks_per_op", sum(totals[s["id"]]["tasks"] for s in ops) / n)
    put("session.sched_wait_s", sum(totals[s["id"]]["wait_ms"] for s in ops) / n / 1e3)
    put("session.gc_s", sum(totals[s["id"]]["gc_ms"] for s in ops) / n / 1e3)
    put("session.live_heap_mb", untraced.live_heap / 2**20)
    put("trace.overhead_s", _med(traced.durations("round")) - _med(untraced.durations("round")))

    if workload == "lifecycle":
        def op_spans(tr, op):
            return [s for s in tr.spans if s["name"] == w.op_name and s["op"] == op
                    and not s.get("full")]

        def dur(spans):
            return _med(s["end"] - s["start"] for s in spans)

        backups = op_spans(traced, "backup")
        put("lifecycle.backup_s", dur(op_spans(untraced, "backup")))
        put("lifecycle.restore_s", dur(op_spans(untraced, "restore")))
        put("lifecycle.stored_bytes_ratio", w.stored_bytes_ratio())
        put("snapshot_scan.scan_s", _med(traced.durations("snapshot_scan.scan")))
        put("snapshot_scan.files", w.scanned[0])
        put("snapshot_scan.mb", w.scanned[1] / 2**20)
        put("pipelines.backup_jobs", _med(totals[s["id"]]["jobs"] for s in backups))
        put("pipelines.backup_cpu_s", _med(totals[s["id"]]["cpu_ns"] / 1e9 for s in backups))

        def copy_s(span):
            sids = {sid for j in owned[span["id"]] for sid in jobs[j]["stages"]}
            return sum(stages[sid]["span_ms"] for sid in sids if sid in stages
                       and stages[sid]["name"].startswith("foreachPartition")
                       and module_of(stages[sid]["name"]) == "operators.pipelines") / 1e3

        put("pipelines.copy_s", _med(copy_s(s) for s in backups))
        incr = [(new, files) for new, files, full in w.uploaded if not full]
        put("pipelines.upload_ratio", sum(a for a, _ in incr) / max(sum(b for _, b in incr), 1))
        put("pipelines.remove_s", dur(op_spans(traced, "remove")))
        put("pipelines.removed_objects", _med(w.removed))
        put("pipelines.verify_s", dur(op_spans(traced, "verify")))
        put("pipelines.downloaded", w.restored)
        put("manifest_json.write_s", _med(traced.durations("manifest_json.write")))
        put("manifest_json.read_s", _med(traced.durations("manifest_json.read")))
        put("manifest.report_s", _med(traced.durations("manifest.report")))
        _stream_metrics(put, w, traced, jobs, stages)
        return out

    passes = max(len(ops) / max(len({s["op"] for s in ops}), 1), 1)
    kids: dict[str, list[dict]] = {}
    for s in traced.spans:
        kids.setdefault(s["parent"], []).append(s)
    per_module = {m: {"build": [], "exec": []} for m in CURATION_ENTRY_POINTS}
    for op in ops:
        parts = {c["name"]: c for c in kids.get(op["id"], [])}
        calls = [c for c in kids.get(parts["build"]["id"], [])
                 if c["name"].split(".")[0] in per_module]
        for c in calls:
            per_module[c["name"].split(".")[0]]["build"].append(c)
        if calls:  # the last call built the DataFrame the query returns
            per_module[calls[-1]["name"].split(".")[0]]["exec"].append(parts["exec"])
    for m, sp in per_module.items():
        spans = sp["build"] + sp["exec"]
        t = job_totals({j for s in spans for j in owned[s["id"]]}, jobs, stages)
        put(f"{m}.build_s", sum(s["end"] - s["start"] for s in sp["build"]) / passes)
        put(f"{m}.exec_s", sum(s["end"] - s["start"] for s in sp["exec"]) / passes)
        put(f"{m}.jobs", t["jobs"] / passes)
        put(f"{m}.cpu_s", t["cpu_ns"] / 1e9 / passes)
        put(f"{m}.shuffle_mb", t["shuffle_write"] / 2**20 / passes)
        put(f"{m}.spill_mb", t["spill"] / 2**20 / passes)
    cands, kept = w.candidates
    put("dedup.candidate_pairs", cands)
    put("dedup.verify_yield", kept / max(cands, 1))

    derive = traced.named("fixtures.derive")
    put("fixtures.derive_s", _med(s["end"] - s["start"] for s in derive))
    put("fixtures.jobs", _med(totals[s["id"]]["jobs"] for s in derive))
    commands = traced.named("command")
    for m in (*COMMAND_MODULES, "graph"):
        mine = [s for s in commands if PROBE_COMMANDS[s["op"]] == m]
        t = job_totals({j for s in mine for j in owned[s["id"]]}, jobs, stages)
        n = max(len(mine), 1)
        put(f"{m}.jobs", t["jobs"] / n)
        put(f"{m}.cpu_s", t["cpu_ns"] / 1e9 / n)
        put(f"{m}.shuffle_mb", t["shuffle_write"] / 2**20 / n)
        if m != "graph":
            put(f"{m}.exec_s", sum(s["end"] - s["start"] for s in mine) / n)
            continue
        parts = [c for s in mine for c in kids.get(s["id"], [])]
        for part in ("build", "exec"):
            put(f"graph.{part}_s", sum(c["end"] - c["start"] for c in parts
                                       if c["name"] == part) / n)
        put("graph.spill_mb", t["spill"] / 2**20 / n)
    for q in QUERY_KEYS:
        mine = [s for s in ops + commands if s["op"].split("_", 1)[0] == q]
        put(f"query.{q}.s", _med(s["end"] - s["start"] for s in mine))
        put(f"query.{q}.jobs", _med(totals[s["id"]]["jobs"] for s in mine))
    return out


def _stream_metrics(put, w, traced, jobs: dict, stages: dict) -> None:
    """Micro-batch figures of the two replays: batch latencies from the
    queries' progress reports (``addBatch`` is the batch function, the rest
    of ``triggerExecution`` the engine around it), jobs and bytes read and
    written from the jobs submitted while each replay ran, state size from
    the state directory it left."""
    for name, r in w.streams.items():
        adds = [d["addBatch"] / 1e3 for d in r["progress"]]
        n = max(len(adds), 1)
        span = traced.named(f"{name}.replay")[0]
        t = job_totals(jobs_between(jobs, span["wall_ms"], span["wall_end_ms"]), jobs, stages)
        put(f"{name}.add_batch_p50_s", _med(adds))
        put(f"{name}.jobs_per_batch", t["jobs"] / n)
        put(f"{name}.write_mb_per_batch", t["output"] / 2**20 / n)
        put(f"{name}.state_mb", r["state_bytes"] / 2**20)
        if name != "containment_stream":
            continue
        # the replay is too short for the ten-beyond tail rule: its tail is
        # the slowest batch; growth compares the last batch with the first
        # warm one (batch 0 also pays first-use costs)
        tl = stats.tail(adds)
        put(f"{name}.add_batch_tail_s", tl[1] if tl else max(adds))
        put(f"{name}.overhead_s", _med(d["triggerExecution"] / 1e3 - a
                                       for d, a in zip(r["progress"], adds)))
        put(f"{name}.read_mb_per_batch", t["input"] / 2**20 / n)
        put(f"{name}.growth", adds[-1] / adds[1])

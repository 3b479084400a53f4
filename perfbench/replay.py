"""Micro-batch replay of the two compacted-state candidate streams
(``containment_compacted_query``, ``lsh_compacted_query``): seeded
documents in a seeded arrival order, one file per micro-batch, enough
batches to cross a fold. Used by the traced lifecycle run; each replay's
pair set is checked against the batch operator its docstring names."""

from __future__ import annotations

import os

import gen
from lifecycle import dir_bytes

DOCS = 120
# three batches with the fold period at 2: batch 2 folds residue 0 a second
# time, over state that batches 0 and 1 left (each micro-batch costs
# 5-10 s on 4 cores whatever its size, so the replay is kept this short)
FILES, COMPACT_EVERY = 3, 2
SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
STREAMS = ("containment_stream", "dedup_stream")


def batch_pairs(spark, docs_path: str) -> dict[str, set]:
    """The pair set each replay must produce, from the batch operators."""
    from esop_spark.operators.dedup import (
        _lsh_candidates,
        containment_candidates,
        doc_shingle_counts,
        shingles,
    )

    docs = spark.read.parquet(docs_path)
    cont = containment_candidates(shingles(docs, 3), k=8, min_hits=2, max_df=10_000,
                                  counts=doc_shingle_counts(docs, 3))
    lsh, base = _lsh_candidates(docs, num_hashes=32, bands=8, n=3, text_col="text",
                                id_col="doc_id", hash_family="xxhash64", max_bucket=100)
    out = {
        "containment_stream": {(r["id_a"], r["id_b"]) for r in cont.collect()},
        "dedup_stream": {(r["id_a"], r["id_b"]) for r in lsh.collect()},
    }
    base.unpersist()
    return out


def replay(spark, tracer, work: str, seed: int) -> dict:
    """Replay both streams; returns per stream its micro-batch progress
    (``durationMs`` of each batch that read rows), state size, pair set and
    the batch operator's pair set."""
    from esop_spark.streaming.containment_stream import containment_compacted_query
    from esop_spark.streaming.dedup_stream import lsh_compacted_query

    root = os.path.join(work, "stream")
    table = gen.make_documents(seed, DOCS)
    src = os.path.join(root, "src")
    gen.split_stream(seed, table, src, FILES)
    gen.write_tables(os.path.join(root, "all"), {"documents": table})
    queries = {"containment_stream": containment_compacted_query,
               "dedup_stream": lsh_compacted_query}
    out = {}
    for name in STREAMS:
        pairs, state, ckpt = (os.path.join(root, name, d) for d in ("pairs", "state", "ckpt"))
        stream = (spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1")
                  .parquet(src))
        with tracer.span(f"{name}.replay"):
            q = queries[name](stream, pairs, state, ckpt, compact_every=COMPACT_EVERY)
            q.awaitTermination()
        progress = [p["durationMs"] for p in q.recentProgress if p["numInputRows"] > 0]
        got = {(r["id_a"], r["id_b"])
               for r in spark.read.parquet(pairs).select("id_a", "id_b").collect()}
        out[name] = {"progress": progress, "state_bytes": dir_bytes(state), "pairs": got,
                     "input_bytes": dir_bytes(src)}
    want = batch_pairs(spark, os.path.join(root, "all", "documents.parquet"))
    for name in STREAMS:
        out[name]["want"] = want[name]
    return out

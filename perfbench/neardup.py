"""The near-duplicate workload: passes over three curation queries on
seeded generated tables, each query starting from released caches (as a
fresh command would), each answer checked against the DuckDB oracle."""

from __future__ import annotations

import os

import gen
from oracle import Oracle, canonical

# the exact pair verifiers the roadmap's verifier pruning targets (q303
# first, then q23 and q25); the job-count-bound LSH queries q301 and q304
# run in the traced run only (``layers.PROBE_COMMANDS``)
QUERIES = ["q23_ngram_jaccard", "q25_embedding_neardup", "q303_weighted_jaccard"]
# TPC-H scale of the star schema (read by base-table registration and by
# the traced run's fixture-backed commands), and the curation corpus, sized
# so that pair generation and verification dominate a pass: the three
# verifiers are quadratic in their inputs, while their job counts are fixed
SCALE, DOCS, VECS = 0.001, 1600, 600
# a unit is three passes, each a round: wall_s is their median, so a burst
# of load from outside that slows one pass does not move it
PASSES_PER_UNIT = 3


def release_caches(spark) -> None:
    """Drop every cache a previous command left behind: the dedup module's
    shared relations, the Spark cache, the fixture-registration memo and
    RDD-level persists (the same reset ``bench.py`` applies per query)."""
    from esop_spark.operators.dedup import release_shared_relations
    from esop_spark.sources import fixtures

    release_shared_relations()
    spark.catalog.clearCache()
    fixtures.reset_registration_cache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(jmap.keySet().toArray()):
        if jmap.containsKey(rid):
            jmap.get(rid).unpersist(False)


class NearDup:
    """One unit = ``PASSES_PER_UNIT`` passes over ``QUERIES``; the warm-up
    is one pass."""

    op_name = "query"

    def __init__(self, spark, work: str, seed: int):
        import __spark_entry__ as entry

        self.spark, self.work, self.seed = spark, work, seed
        self.queries = entry.queries()
        self.sql = entry.oracle_sql()
        self.results: list[tuple[str, list[str], list]] = []
        self.sf_dir = None

    @property
    def attempted(self) -> int:
        return len(self.results)

    def generate(self, i: int) -> None:
        self.sf_dir = os.path.join(self.work, f"sf-{i}")
        gen.write_tables(self.sf_dir, gen.make_tables(self.seed, SCALE, DOCS, VECS))

    def warmup(self, tracer) -> None:
        self._pass(tracer)

    def unit(self, tracer) -> None:
        for _ in range(PASSES_PER_UNIT):
            self._pass(tracer)

    def _pass(self, tracer) -> None:
        with tracer.span("round"):
            for name in QUERIES:
                release_caches(self.spark)
                with tracer.span(self.op_name, op=name):
                    with tracer.span("build"):
                        df = self.queries[name](self.spark, self.sf_dir)
                    with tracer.span("exec"):
                        rows = df.collect()
                self.results.append((name, df.columns, [tuple(r) for r in rows]))

    def finish(self, tracer) -> None:
        pass

    def check(self, cache_dir: str) -> list[str]:
        """Compare every recorded answer with the oracle; returns one
        message per wrong answer."""
        oracle = Oracle(self.sf_dir, cache_dir)
        bad = []
        try:
            for name, cols, rows in self.results:
                want = oracle.answer(self.sql[name])
                got = {"cols": sorted(cols), "rows": canonical(rows, cols)}
                if got != want:
                    bad.append(f"{name}: {len(got['rows'])} rows differ from the "
                               f"oracle's {len(want['rows'])}")
        finally:
            oracle.close()
        return bad

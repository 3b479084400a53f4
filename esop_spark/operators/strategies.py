"""Phased restoration strategies + bucket lifecycle (SURVEY.md §2 restore
story completion).

The reference restores through one of three strategies
(impl/restore/RestorationStrategyResolverImpl.java:30-55):

- IN_PLACE  — node down, write straight into the data dirs
  (InPlaceRestorationStrategy.java); this is ``pipelines.restore``.
- HARDLINKS — node up, C* 3: download to a temp dir, truncate, hardlink
  into the live table dirs, ``nodetool refresh`` per table, cleanup
  (HardlinkingRestorationStrategy.java:35-44, RestorationPhase.java:484-590).
- IMPORT    — node up, C* 4+: download to a temp dir, truncate,
  ``nodetool import`` per table, cleanup
  (ImportingRestorationStrategy.java:36-43).

The JMX legs (truncate / refresh / import) are live-Cassandra calls — the
same fixture boundary as S5 — so this module performs every filesystem
phase for real (download, verify, hardlink with exists-skip and
failure rollback, cleanup) and RETURNS the JMX call list each strategy
would issue, letting callers drive a real node or a test assert the plan.

Scale: download and linking both run in Spark tasks over the entry
DataFrame; the only driver-side state is per-table op lists (one row per
table) and phase counters.

Bucket lifecycle mirrors impl/BucketService.java:5-45: existence probe,
create-if-missing gated by ``create_missing``, delete.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esop_spark.operators import pipelines
from esop_spark.sources import manifest_json, snapshot_scan


class BucketServiceException(Exception):
    """impl/BucketService.java:19-27."""


def bucket_exists(bucket_dir: str) -> bool:
    return os.path.isdir(bucket_dir)


def create_bucket(bucket_dir: str) -> None:
    os.makedirs(bucket_dir, exist_ok=True)


def delete_bucket(bucket_dir: str) -> None:
    if os.path.isdir(bucket_dir):
        shutil.rmtree(bucket_dir)


def check_bucket(bucket_dir: str, create_missing: bool = False) -> None:
    """BucketService.checkBucket (impl/BucketService.java:30-45): pass when
    the bucket exists; create it when ``create_missing``; fail otherwise."""
    if bucket_exists(bucket_dir):
        return
    if not create_missing:
        raise BucketServiceException(
            f"Bucket {bucket_dir} does not exist and create_missing is false! "
            "Can not continue!"
        )
    create_bucket(bucket_dir)


def _verify_downloaded(
    spark: SparkSession, bucket_dir: str, download_dir: str, backup_name: str
) -> int:
    """DataVerification analog (RestorationPhase.java:508-511): every
    downloaded file must hash-match its manifest entry. Returns the number
    of missing/corrupt files (0 = verified)."""
    from esop_spark.functions.scalars import content_hash

    manifests = manifest_json.read_manifests(
        spark, os.path.join(bucket_dir, "manifests")
    ).filter(F.col("backup_name") == backup_name)
    parts = F.split(F.col("object_key"), "/")
    rel = F.when(
        F.size(parts) == 6,
        F.concat_ws("/", parts[1], parts[2], parts[3], parts[5]),
    ).otherwise(F.concat_ws("/", parts[1], parts[2], parts[4]))
    expected = manifests.select(rel.alias("rel_file"), "hash").distinct()

    local = snapshot_scan.list_local_files(spark, [download_dir])
    if not local.take(1):
        return expected.count()
    local_dirs = [dp for dp, _dns, fns in os.walk(download_dir) if fns]
    hashed = snapshot_scan.load_binary_files_for(spark, local_dirs, local).select(
        "local_path", content_hash(F.col("content")).alias("local_hash")
    )
    root_len = len(os.path.abspath(download_dir)) + 2
    got = hashed.select(
        F.substring(F.col("local_path"), root_len, 1 << 20).alias("rel_file"),
        "local_hash",
    )
    bad = expected.join(got, "rel_file", "left_outer").filter(
        F.col("local_hash").isNull() | (F.col("hash") != F.col("local_hash"))
    )
    return bad.count()


def restore_phased(
    spark: SparkSession,
    bucket_dir: str,
    data_dir: str,
    strategy: str = "hardlinks",
    backup_name: str | None = None,
    cassandra_config_dir: str | None = None,
    jmx_executor=None,
) -> dict:
    """HARDLINKS / IMPORT restore against a "running node" whose live data
    lives in ``data_dir``.

    Phases (HardlinkingRestorationStrategy.java:35-44): download into a
    temp dir under the node root → hash-verify → (hardlink into table dirs
    | stage for nodetool import) → per-table refresh/import JMX ops →
    cleanup. Hardlinking skips already-present targets and rolls back
    every created link if any link fails (RestorationPhase.java:536-570).

    ``jmx_executor``: optional callable ``(op, keyspace, table) -> None``
    invoked for each JMX call IN ORDER (truncates first, then
    refresh/import — RestorationPhase.java:571-584), making the phased
    restore executable end-to-end against a real node: pass a wrapper
    around your JMX client / ``nodetool``. Without it the calls are only
    returned in the plan (the SURVEY §2.7 fixture boundary). An executor
    exception aborts before cleanup so the staged files survive for retry.
    """
    if strategy not in ("hardlinks", "import"):
        raise ValueError(f"unknown phased strategy: {strategy!r}")

    # -- DOWNLOAD phase: into the importing source dir, never the live dirs
    download_dir = os.path.join(data_dir, ".esop-import")
    backup_name = backup_name or pipelines.latest_backup(
        os.path.join(bucket_dir, "manifests")
    )
    stats = pipelines.restore(
        spark, bucket_dir, download_dir, backup_name=backup_name,
        delete_extras=False,
    )

    # -- VERIFY phase (gate before touching the live dirs)
    bad = _verify_downloaded(spark, bucket_dir, download_dir, backup_name)
    if bad:
        shutil.rmtree(download_dir, ignore_errors=True)
        raise RuntimeError(
            f"{bad} downloaded files corrupted or missing — aborting before "
            "the import phase (RestorationPhase.java:508-511)"
        )

    # relation of (src under download dir, dst under live dir)
    walked = snapshot_scan.list_local_files(spark, [download_dir])
    abs_dl = os.path.abspath(download_dir)
    abs_data = os.path.abspath(data_dir)
    rel = F.substring(F.col("local_path"), len(abs_dl) + 2, 1 << 20)
    links = walked.select(
        F.col("local_path").alias("src"),
        F.concat(F.lit(abs_data + "/"), rel).alias("dst"),
        rel.alias("rel_file"),
    )

    # per-table JMX ops the reference would now issue (fixture boundary):
    # truncate before, refresh/import after (RestorationPhase.java:571-584)
    tables = sorted(
        (r["ks"], r["tbl"])
        for r in links.select(
            F.split("rel_file", "/")[0].alias("ks"),
            F.regexp_extract(F.split("rel_file", "/")[1], r"(.+)-[0-9a-f]{32}", 1).alias("tbl"),
        )
        .distinct()
        .collect()
    )
    jmx_op = "refresh" if strategy == "hardlinks" else "import"
    jmx_calls = [("truncate", ks, t) for ks, t in tables] + [
        (jmx_op, ks, t) for ks, t in tables
    ]
    if jmx_executor is not None:
        # truncates run BEFORE any data lands in the live dirs
        # (RestorationPhase CLEANING phase precedes the import phase)
        for op, ks, t in jmx_calls:
            if op == "truncate":
                jmx_executor(op, ks, t)

    linked = skipped = 0
    if strategy == "hardlinks":
        # distributed linking; each task reports per-file outcomes so the
        # driver holds only counters + the (rare) failure rollback set
        def link_batches(it):
            import pandas as pd

            for pdf in it:
                out = []
                for src, dst in zip(pdf["src"], pdf["dst"]):
                    if os.path.exists(dst):
                        out.append("skipped")
                        continue
                    try:
                        os.makedirs(os.path.dirname(dst), exist_ok=True)
                        os.link(src, dst)
                        out.append("linked")
                    except OSError as ex:
                        out.append(f"failed: {ex}")
                yield pd.DataFrame({"dst": pdf["dst"], "status": out})

        results = links.mapInPandas(
            link_batches, schema="dst string, status string"
        ).persist()
        by_status = {
            r["status"]: r["n"]
            for r in results.groupBy(
                F.when(F.col("status").startswith("failed"), "failed")
                .otherwise(F.col("status"))
                .alias("status")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        linked = by_status.get("linked", 0)
        skipped = by_status.get("skipped", 0)
        if by_status.get("failed"):
            # rollback every created link, then fail the phase
            results.filter(F.col("status") == "linked").foreachPartition(
                lambda rows: [os.remove(r["dst"]) for r in rows if os.path.exists(r["dst"])]
            )
            results.unpersist()
            shutil.rmtree(download_dir, ignore_errors=True)
            raise RuntimeError(
                "hardlinking phase failed; all created links rolled back "
                "(RestorationPhase.java:559-570)"
            )
        results.unpersist()
        if jmx_executor is not None:
            # refresh AFTER the links exist; executor failure aborts before
            # cleanup so staged files survive for a retry
            for op, ks, t in jmx_calls:
                if op != "truncate":
                    jmx_executor(op, ks, t)
        shutil.rmtree(download_dir, ignore_errors=True)  # CLEANUP phase
    # strategy == "import": files stay staged in download_dir for the
    # nodetool-import JMX call; cleanup happens after that boundary
    elif jmx_executor is not None:
        for op, ks, t in jmx_calls:
            if op != "truncate":
                jmx_executor(op, ks, t)

    out = {
        "strategy": strategy,
        "downloaded": stats["downloaded"],
        "linked": linked,
        "skipped": skipped,
        "jmx_calls": jmx_calls,
        "staged_dir": None if strategy == "hardlinks" else download_dir,
    }
    if cassandra_config_dir is not None:
        # opt-in in-place finish (--update-cassandra-yaml analog): applied
        # AFTER the import phase so a rolled-back restore never edits config
        from esop_spark.operators import cassandra_yaml
        from esop_spark.sources import manifest_json as mj

        tokens = mj.read_backup_tokens(
            spark, os.path.join(bucket_dir, "manifests"), backup_name
        )
        out["cassandra_yaml"] = cassandra_yaml.update_cassandra_yaml(
            os.path.join(cassandra_config_dir, "cassandra.yaml"), tokens
        )
    return out

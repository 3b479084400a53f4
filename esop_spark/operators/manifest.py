"""Backup-listing analytics (the `esop list` surface).

Reference semantics:
- per-backup report: files = count(entries), size = sum(size)
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/Manifest.java:486-495)
- reclaimable space: bytes of objects referenced by exactly one manifest
  (Manifest.java:460-483, ManifestFilesCounter at :407-457)
- global totals over distinct object keys (Manifest.java:452-458,676-702)

Scale notes: the object-reference count (J4) is a single shuffle on
``object_key``; the per-backup rollup is a second shuffle on ``backup_name``.
Both aggregations are partial-aggregated map-side by Catalyst. At 100 TB the
``object_key`` shuffle dominates; keys are content-addressed (uniform hash
distribution) so no skew handling is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _backup_rollup(entries: DataFrame) -> DataFrame:
    """Per-backup files / size / reclaimable plus each backup's share of the
    distinct-object totals, in two exchanges.

    The first, on ``object_key``, gathers every object's references: their
    distinct backups are its reference count (J4), and the first reference
    is the object's one "owner" row. The second rolls the references up per
    backup: ``owned_files``/``owned_bytes`` summed over all backups are the
    distinct totals (A2), so the ``list`` report needs no second pass.
    Entries without an object key are dropped, as the reference-count join
    of Q1's definition drops them.
    """
    refs = (
        entries.filter(F.col("object_key").isNotNull())
        .groupBy("object_key")
        .agg(
            F.collect_list(F.struct("backup_name", "backup_ts", "size")).alias("refs"),
            F.max("size").alias("obj_size"),
        )
        .select(
            "obj_size",
            (F.size(F.array_distinct("refs.backup_name")) == 1).alias("single"),
            F.posexplode("refs").alias("pos", "ref"),
        )
    )
    owner = F.col("pos") == 0
    return refs.groupBy(
        F.col("ref.backup_name").alias("backup_name"),
        F.col("ref.backup_ts").alias("backup_ts"),
    ).agg(
        F.count(F.lit(1)).alias("files"),
        F.sum("ref.size").cast("bigint").alias("size_bytes"),
        F.sum(F.when(F.col("single"), F.col("ref.size")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("reclaimable_bytes"),
        F.sum(owner.cast("bigint")).alias("owned_files"),
        F.sum(F.when(owner, F.col("obj_size"))).cast("bigint").alias("owned_bytes"),
    )


def list_backups(entries: DataFrame) -> DataFrame:
    """Q1: per-backup files / occupied / reclaimable report.

    Equivalent of AllManifestsReport.report (Manifest.java:676-702) minus the
    driver-side rendering (that lives in esop_spark.functions.render).
    """
    return _backup_rollup(entries).drop("owned_files", "owned_bytes")


def totals(entries: DataFrame) -> DataFrame:
    """A2: global distinct totals (Manifest.java:452-458).

    totalFiles counts distinct objects; totalSize counts each object's size
    once regardless of how many manifests reference it — the sums of the
    rollup's owner columns, as the ``list`` footer sums them.
    """
    return _backup_rollup(entries).agg(
        F.coalesce(F.sum("owned_files"), F.lit(0)).cast("bigint").alias("total_files"),
        F.sum("owned_bytes").cast("bigint").alias("total_size"),
    )


def render_report(
    entries: DataFrame,
    fmt: str = "table",
    human_units: bool = False,
    from_timestamp: int | None = None,
    last_n: int | None = None,
) -> str:
    """The `esop list` output surface: per-backup rows newest-first plus a
    totals footer, as an aligned table or JSON, with optional SI units —
    the four golden formats of AllManifestsReportTest
    (/root/reference/core/src/test/java/com/instaclustr/esop/backup/AllManifestsReportTest.java:52-126),
    with --from-timestamp (P9) and --last-n (W4) filters.
    """
    import json as _json

    from esop_spark.functions.render import human_bytes, render_table, render_timestamp

    # one collect of the per-backup rows; newest first, and a backup with no
    # timestamp sorts last, as Spark's ``desc`` puts nulls last
    all_rows = sorted(
        _backup_rollup(entries).collect(),
        key=lambda r: (r["backup_ts"] is not None, r["backup_ts"] or 0, r["backup_name"]),
        reverse=True,
    )
    rows = all_rows
    if from_timestamp is not None:
        rows = [
            r for r in rows if r["backup_ts"] is not None and r["backup_ts"] <= from_timestamp
        ]
    if last_n is not None:
        rows = rows[-last_n:]  # oldest N of the newest-first list, order kept
    # totals are DISTINCT-object totals (A2, README "Listing of backups":
    # backup-1 154 files/113.1kB + backup-2 138 files → totals 154/113.1kB),
    # not the sum of per-backup rows — and ALL THREE totals are computed over
    # the unfiltered listing (the reference builds totals at report-build
    # time, before --from-timestamp/--last-n trim the display rows), so the
    # footer stays mutually consistent on filtered listings
    tot_files = sum(r["owned_files"] for r in all_rows)
    tot_size = sum(r["owned_bytes"] or 0 for r in all_rows)
    tot_reclaim = sum(r["reclaimable_bytes"] for r in all_rows)

    def when(ts: int | None) -> str:
        return "" if ts is None else render_timestamp(ts)

    def fmt_size(n: int) -> str:
        return human_bytes(n) if human_units else str(n)

    if fmt == "json":
        return _json.dumps(
            {
                "reports": [
                    {
                        "name": r["backup_name"],
                        "timestamp": when(r["backup_ts"]),
                        "unixtimestamp": r["backup_ts"],
                        "files": r["files"],
                        "size": fmt_size(r["size_bytes"]),
                        "reclaimableSpace": fmt_size(r["reclaimable_bytes"]),
                    }
                    for r in rows
                ],
                "totalFiles": tot_files,
                "totalSize": fmt_size(tot_size),
                "totalReclaimable": fmt_size(tot_reclaim),
            },
            indent=2,
        )
    table = [["name", "timestamp", "files", "size", "reclaimable"]]
    for r in rows:
        table.append(
            [
                r["backup_name"],
                when(r["backup_ts"]),
                str(r["files"]),
                fmt_size(r["size_bytes"]),
                fmt_size(r["reclaimable_bytes"]),
            ]
        )
    table.append(["TOTAL", "", str(tot_files), fmt_size(tot_size), fmt_size(tot_reclaim)])
    return render_table(table)


def removable_entries(entries: DataFrame, victims) -> DataFrame:
    """Q2: (object_key, size) of the objects safe to delete with the backup
    ``victims`` (one name or a list of names) — those every reference to
    which is a victim's. For one victim these are the objects referenced by
    exactly one manifest, necessarily that backup; one object-grain
    aggregation generalizes the rule to multi-victim (--older-than)
    removals.

    Mirrors RemoveBackupOperation's unique-file selection
    (/root/reference/core/src/main/java/com/instaclustr/esop/impl/remove/RemoveBackupOperation.java:100-190
    via Manifest.java:460-483).
    """
    return (
        entries.filter(F.col("object_key").isNotNull())
        .groupBy("object_key")
        .agg(
            F.bool_and(F.col("backup_name").isin(victims)).alias("victims_only"),
            F.max("size").alias("size"),
        )
        .filter("victims_only")
        .select("object_key", "size")
    )

"""Multi-node (fleet-scoped) listing and global removal (SURVEY.md §2 — the
reference's ``--global-request`` surface).

Reference semantics re-expressed as DataFrame plans:

- Node resolution: a storage location names ONE node
  (``<base>/<cluster>/<dc>/<node>``); a global request enumerates sibling
  dcs under the cluster dir and sibling nodes under each dc dir
  (/root/reference/core/src/main/java/com/instaclustr/esop/local/LocalFileRestorer.java:279-313
  ``listDcs``/``listNodes``), optionally restricted by ``--dcs``.
- Global removal: the per-node victim selection (exact name XOR --oldest XOR
  --older-than) and per-node unique-object deletion run for EVERY resolved
  node location
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/remove/RemoveBackupOperation.java:100-190).
  ``--oldest`` is per node: each node's own oldest backup is that node's
  victim (``getBackupsToDelete`` evaluates against each node's report).
- An object is deletable iff NO surviving backup of ANY node references it.
  Physical keys are node-scoped (``<cluster>/<dc>/<node>/<object_key>``), so
  this reduces to a per-(dc, node, object_key) refcount — expressed here as
  one anti-join keyed on the full physical identity, which keeps the rule
  correct even if a deployment shares objects across nodes.

Scale design: the fleet manifest read is ONE glob read over
``<cluster>/*/*/manifests`` (dc/node recovered from the file path), not an
N-way per-node union — 1000 nodes cost one Spark job. All aggregations key on
(dc, node, …) so per-node reports parallelize across the fleet; the only
driver-side state is the dc/node directory listing (fleet-sized, not
file-sized).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from esop_spark.operators.pipelines import delete_objects
from esop_spark.sources import manifest_json


def split_node_location(node_dir: str) -> tuple[str, str, str, str]:
    """``<base>/<cluster>/<dc>/<node>`` → (base, cluster, dc, node).

    The file-path analog of StorageLocation.withoutNode/withoutNodeAndDc
    (/root/reference/core/src/main/java/com/instaclustr/esop/impl/StorageLocation.java:136-178):
    it is enough to name one node; the rest of the fleet is resolved from it.
    """
    p = os.path.abspath(node_dir).rstrip("/")
    dc_dir, node = os.path.split(p)
    cluster_dir, dc = os.path.split(dc_dir)
    base, cluster = os.path.split(cluster_dir)
    if not (node and dc and cluster):
        raise ValueError(f"not a <base>/<cluster>/<dc>/<node> location: {node_dir!r}")
    return base, cluster, dc, node


def list_node_locations(
    base: str, cluster: str, dcs: list[str] | None = None
) -> list[dict[str, str]]:
    """Resolve every node location under a cluster (LocalFileRestorer.listNodes):
    dcs = dirs under the cluster dir, nodes = dirs under each dc dir.
    Returns [{"dc", "node", "node_dir"}] sorted for determinism."""
    cluster_dir = os.path.join(base, cluster)
    found_dcs = sorted(
        d for d in os.listdir(cluster_dir)
        if os.path.isdir(os.path.join(cluster_dir, d))
    )
    if dcs:
        found_dcs = [d for d in found_dcs if d in set(dcs)]
    out = []
    for dc in found_dcs:
        dc_dir = os.path.join(cluster_dir, dc)
        for node in sorted(os.listdir(dc_dir)):
            nd = os.path.join(dc_dir, node)
            if os.path.isdir(nd):
                out.append({"dc": dc, "node": node, "node_dir": nd})
    return out


def read_fleet_manifests(
    spark: SparkSession, base: str, cluster: str, dcs: list[str] | None = None
) -> DataFrame:
    """Union of every node's manifest entries, tagged with (dc, node).

    One glob read (``<cluster>/<dc glob>/*/manifests``) — dc and node are
    recovered from the manifest file path
    (…/<dc>/<node>/manifests/<name>.json), so fleet size never shows up in
    the plan as a union width.
    """
    dc_glob = "{" + ",".join(sorted(dcs)) + "}" if dcs else "*"
    glob = os.path.join(base, cluster, dc_glob, "*", "manifests")
    entries = manifest_json.read_manifests(spark, glob, include_path=True)
    parts = F.split(F.col("manifest_path"), "/")
    return entries.withColumn("dc", F.element_at(parts, -4)).withColumn(
        "node", F.element_at(parts, -3)
    ).drop("manifest_path")


def global_list_backups(fleet_entries: DataFrame) -> DataFrame:
    """Per-(dc, node, backup) files / size / reclaimable — list_backups (A1-A3)
    generalized over the fleet union. Reclaimable uses the full physical
    object identity (dc, node, object_key): bytes freed if that node's backup
    were removed and no other backup anywhere still referenced the object."""
    # Round 11 (guide §2.4): two-level aggregation replaces the former
    # object-grain join-back (agg → SMJ of the full entry relation against
    # its own refcounts → re-agg). An object with exactly one referencing
    # backup contributes ALL its rows' bytes to that one backup, so the
    # reclaimable mass aggregates straight off the object grain — no
    # entry-relation join, one exchange fewer.
    per_backup = fleet_entries.groupBy(
        "dc", "node", "backup_name", "backup_ts"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("files"),
        F.sum("size").cast("bigint").alias("size_bytes"),
    )
    single_ref = (
        fleet_entries.groupBy("dc", "node", "object_key")
        .agg(
            F.countDistinct("backup_name").alias("n_backups"),
            F.max("backup_name").alias("backup_name"),
            F.sum("size").alias("sz"),
        )
        .filter(F.col("n_backups") == 1)
        .groupBy("dc", "node", "backup_name")
        .agg(F.sum("sz").cast("bigint").alias("reclaimable_bytes"))
    )
    return (
        per_backup.join(
            single_ref, ["dc", "node", "backup_name"], "left_outer"
        )
        .withColumn(
            "reclaimable_bytes",
            F.coalesce("reclaimable_bytes", F.lit(0)).cast("bigint"),
        )
        .select(
            "dc",
            "node",
            "backup_name",
            "backup_ts",
            "files",
            "size_bytes",
            "reclaimable_bytes",
        )
    )


def _select_victims(
    fleet_entries: DataFrame,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
) -> DataFrame:
    """Per-node victim selection (RemoveBackupOperation.getBackupsToDelete,
    evaluated against each node's own report): exact name XOR per-node oldest
    XOR older-than cutoff. Returns (dc, node, backup_name)."""
    manifests = fleet_entries.select(
        "dc", "node", "backup_name", "backup_ts"
    ).distinct()
    if backup_name is not None:
        return manifests.filter(F.col("backup_name") == backup_name).select(
            "dc", "node", "backup_name"
        )
    if oldest:
        w = Window.partitionBy("dc", "node").orderBy(
            F.col("backup_ts").asc_nulls_last(), F.col("backup_name").asc()
        )
        return (
            manifests.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("dc", "node", "backup_name")
        )
    if older_than_ms is not None:
        return manifests.filter(F.col("backup_ts") < older_than_ms).select(
            "dc", "node", "backup_name"
        )
    raise ValueError("select victims via backup_name, oldest, or older_than_ms")


def global_removal_plan(
    fleet_entries: DataFrame,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The pure-query core of global removal: (victims, removable).

    removable = (dc, node, object_key, size) referenced by a victim backup
    and by NO surviving backup of any node — one semi-join + one anti-join on
    the physical object identity.
    """
    victims = _select_victims(fleet_entries, backup_name, oldest, older_than_ms)
    keyed = fleet_entries.select("dc", "node", "backup_name", "object_key", "size")
    # Round 11 (guide §2.4): ONE object-grain aggregation over the entry
    # relation flagged by a broadcast victim join replaces the former
    # semi-join + anti-join + distinct ×2 + object-grain anti-join (three
    # full-relation exchanges). Victim-side sizes ride a per-object
    # collect_set (bounded by the distinct sizes one object exhibits), so
    # the output rows equal the old distinct(victim rows) exactly; struct
    # wrapping keeps a null size representable.
    flagged = keyed.join(
        F.broadcast(victims.withColumn("_v", F.lit(1))),
        ["dc", "node", "backup_name"],
        "left",
    )
    removable = (
        flagged.groupBy("dc", "node", "object_key")
        .agg(
            F.collect_set(
                F.when(F.col("_v") == 1, F.struct("size"))
            ).alias("_vsizes"),
            F.max(F.when(F.col("_v").isNull(), 1).otherwise(0)).alias(
                "_any_sur"
            ),
        )
        .filter((F.size("_vsizes") > 0) & (F.col("_any_sur") == 0))
        .select(
            "dc",
            "node",
            "object_key",
            F.explode("_vsizes").alias("_s"),
        )
        .select("dc", "node", "object_key", F.col("_s.size").alias("size"))
    )
    return victims, removable


def global_removal_report(
    fleet_entries: DataFrame,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
) -> DataFrame:
    """Dry-run analytics: per-(dc, node) backups_removed / objects_removed /
    bytes_removed under the given victim rule (the reference's --dry report,
    aggregated fleet-wide)."""
    victims, removable = global_removal_plan(
        fleet_entries, backup_name, oldest, older_than_ms
    )
    v = victims.groupBy("dc", "node").agg(
        F.count(F.lit(1)).cast("bigint").alias("backups_removed")
    )
    r = removable.groupBy("dc", "node").agg(
        F.count(F.lit(1)).cast("bigint").alias("objects_removed"),
        F.sum("size").cast("bigint").alias("bytes_removed"),
    )
    return (
        v.join(r, ["dc", "node"], "left_outer")
        .withColumn("objects_removed", F.coalesce("objects_removed", F.lit(0)))
        .withColumn("bytes_removed", F.coalesce("bytes_removed", F.lit(0)))
    )


def global_remove_backup(
    spark: SparkSession,
    node_location: str,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
    dcs: list[str] | None = None,
    dry_run: bool = False,
) -> dict[str, int]:
    """remove-backup --global-request: resolve the fleet from one node
    location, select victims per node, delete victim-unique objects + victim
    manifests (+ topology files) on every node.

    Object deletion is one distributed action over the removable set
    (:func:`esop_spark.operators.pipelines.delete_objects`, the
    DeleteObjects-batch analog, shared with the single-node removal);
    manifest/topology removal is per-victim (fleet × backups rows —
    driver-small, as in the reference's per-node loop).
    """
    base, cluster, _dc, _node = split_node_location(node_location)
    fleet = read_fleet_manifests(spark, base, cluster, dcs)
    victims, removable = global_removal_plan(
        fleet, backup_name, oldest, older_than_ms
    )
    victim_rows = victims.collect()  # fleet × victim-backups: driver-small
    cluster_dir = os.path.abspath(os.path.join(base, cluster))
    n_objects, batch_sizes = delete_objects(
        removable.select(
            F.concat_ws("/", F.lit(cluster_dir), "dc", "node", "object_key")
        ),
        dry_run,
    )
    if not dry_run:
        for r in victim_rows:
            node_dir = os.path.join(cluster_dir, r["dc"], r["node"])
            for rel in (
                os.path.join("manifests", f"{r['backup_name']}.json"),
                os.path.join("topology", f"{r['backup_name']}.json"),
            ):
                p = os.path.join(node_dir, rel)
                if os.path.exists(p):
                    os.remove(p)
    return {
        "backups_removed": len(victim_rows),
        "objects_removed": n_objects,
        "delete_requests": len(batch_sizes),
        "max_delete_batch": max(batch_sizes, default=0),
    }

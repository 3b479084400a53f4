"""End-to-end backup / restore / remove pipelines (SURVEY.md §3.1, §3.3).

The reference's lifecycle re-expressed as DataFrame plans with ONE Spark
action per side effect; counts and results come back from that action:

backup  = snapshot scan, broadcast-left-joined to the remote listing →
          one ``mapPartitions(...).collect()`` whose tasks copy absent
          objects and freshen present ones (incremental skip,
          UploadTracker.java:106-124) and return one metadata row per file
          → manifest JSON nested from those rows on the driver and written
          LAST (BaseBackupOperationCoordinator.java:151-153).
remove  = victims from the manifest file listing → one object-grain
          aggregation flagging surviving references → one action that
          deletes and returns its counts.
restore = manifest resolution (latest-wins from the listing, skipping
          manifests without entries) → two-round diff vs local files
          (DataSynchronizator.java:41-94) → download missing, then delete
          extras — one action each; the hash-verify gate runs BEFORE the
          destructive leg (RestorationPhase.java:431-435,508-511).

Exactly-once semantics come from content-addressing (object keys embed the
content digest) — a retried copy overwrites an identical object, mirroring
the reference's idempotent upload. Transfers and deletes run inside
executor tasks so a 1000-executor cluster moves files in parallel;
per-partition batching amortizes connection setup (the S3 analog of the
reference's 100-key DeleteObjects batches, BaseS3Restorer.java:252-276).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from esop_spark.operators import manifest
from esop_spark.sources import manifest_json, snapshot_scan


def _transfer_partition_factory(
    bucket_dir: str,
    max_bytes_per_sec: int | None = None,
    kms_key_id: str | None = None,
    skip_refreshing: bool = False,
    retry=None,
):
    """Per-partition transfer over scan rows flagged ``remote``: copies the
    objects the bucket lacks, freshens the ones it has, and yields every
    row back (metadata only, no content) for the driver-side manifest.

    Freshen (LocalFileBackuper.freshenRemoteObject,
    local/LocalFileBackuper.java:48-61): a present object's mtime is
    touched, and it is re-uploaded if the touch fails
    (FreshenResult.UPLOAD_REQUIRED); ``skip_refreshing`` leaves it as is.

    U5: the reference rate-limits uploads with a Guava RateLimiter wrapping
    the stream (UploadTracker.java:164-169, io/RateLimitedInputStream.java);
    here each task budgets bytes/sec — cluster-wide rate ≈ limit × tasks, so
    the caller divides by expected parallelism, exactly like the reference
    divides bandwidth by --concurrent-connections.

    ``kms_key_id`` routes payloads through the encryption leg
    (uploadEncryptedFile, Backuper.java:29-43 → functions/crypto.py);
    ``retry`` (a :class:`esop_spark.functions.retry.RetrySpec`) wraps each
    file transfer in the reference's per-file retrier (U3 knob).
    """
    import time

    from esop_spark.functions import crypto
    from esop_spark.functions.retry import with_retries

    abs_bucket = os.path.abspath(bucket_dir)

    def touched(path: str, now: float) -> bool:
        try:
            os.utime(path, (now, now))
            return True
        except OSError:
            return False

    def transfer_partition(rows):
        window_start, now = time.monotonic(), time.time()
        sent = 0
        for row in rows:
            dst = os.path.join(abs_bucket, row["object_key"])
            if not row["remote"] or not (skip_refreshing or touched(dst, now)):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                if kms_key_id is not None:
                    with_retries(
                        lambda: crypto.encrypt_file(row["local_path"], dst, kms_key_id),
                        retry,
                    )
                else:
                    with_retries(lambda: shutil.copyfile(row["local_path"], dst), retry)
                if max_bytes_per_sec:
                    sent += os.path.getsize(dst)
                    due = sent / max_bytes_per_sec
                    elapsed = time.monotonic() - window_start
                    if due > elapsed:
                        time.sleep(due - elapsed)
            yield row

    return transfer_partition


def with_kms_key(entries: DataFrame, kms_key_id: str | None) -> DataFrame:
    """S11 encryption leg: tag entries with the KMS key they are encrypted
    under — except manifests, which are NEVER encrypted (the reference
    routes MANIFEST_FILE through the plain ``uploadFile`` path,
    UploadTracker.java:133-139, Backuper.java:35-43; the S3 backuper stamps
    ``manifestEntry.kmsKeyId`` only on encrypted uploads,
    s3/v2/BaseS3Backuper.java:154-178)."""
    if kms_key_id is None:
        return entries.withColumn("kms_key_id", F.lit(None).cast("string"))
    return entries.withColumn(
        "kms_key_id",
        F.when(F.col("type") != "MANIFEST_FILE", F.lit(kms_key_id)),
    )


def backup(
    spark: SparkSession,
    data_dirs: list[str],
    snapshot_tag: str,
    bucket_dir: str,
    backup_name: str | None = None,
    schema_version: str = "00000000",
    ts_millis: int = 0,
    max_bytes_per_sec: int | None = None,
    kms_key_id: str | None = None,
    skip_refreshing: bool = False,
    tokens: list[str] | None = None,
    retry=None,
) -> DataFrame:
    """Run a backup; returns the manifest entries that were uploaded, as a
    materialized (driver-local) DataFrame of (object_key, size, hash).

    Incremental: files whose content-addressed object key already exists in
    the bucket are not copied, so re-running a backup of unchanged data
    uploads nothing; by default they are freshened instead (see
    :func:`_transfer_partition_factory`; ``skip_refreshing`` is
    --skip-refreshing, impl/backup/BaseBackupOperationRequest.java:50-54).
    ``kms_key_id`` tags every uploaded object's manifest entry with its
    encryption key (--kmsKeyId, AbstractOperationRequest.java:57-59).

    One Spark action: the snapshot scan, broadcast-left-joined to the
    remote listing, runs the transfers in its tasks and returns one
    metadata row per file. The manifest is nested from those rows on the
    driver and written after the action returns — after every upload.
    """
    backup_name = backup_name or f"{snapshot_tag}-{schema_version}-{ts_millis}"
    entries = with_kms_key(
        snapshot_scan.scan_snapshot_tree(spark, data_dirs, snapshot_tag)
        .withColumn("backup_name", F.lit(backup_name))
        .withColumn("schema_version", F.lit(schema_version)),
        kms_key_id,
    )
    remote = snapshot_scan.list_remote_objects(spark, bucket_dir).select(
        "object_key", F.lit(True).alias("remote")
    )
    # remote is null for the objects the bucket lacks
    flagged = entries.join(F.broadcast(remote), "object_key", "left")
    rows = flagged.rdd.mapPartitions(
        _transfer_partition_factory(
            bucket_dir, max_bytes_per_sec, kms_key_id=kms_key_id,
            skip_refreshing=skip_refreshing, retry=retry,
        )
    ).collect()
    manifest_json.write_manifests(
        rows, os.path.join(bucket_dir, "manifests"), tokens=tokens
    )
    return spark.createDataFrame(
        [(r["object_key"], r["size"], r["hash"]) for r in rows if not r["remote"]],
        "object_key string, size long, hash string",
    )


def restore_commitlogs(
    spark: SparkSession,
    bucket_dir: str,
    target_dir: str,
    start_ms: int,
    end_ms: int,
    kms_key_id: str | None = None,
) -> int:
    """Point-in-time commit-log restore: download the segments selected by
    the PIT window (+overhang) into the node's recovery directory
    (RestoreCommitLogsOperation.java:106-163). Returns segment count.

    ``kms_key_id`` decrypts segments archived with encryption on (commitlog
    objects carry no manifest entry, so the key arrives with the request —
    same as the reference's --kmsKeyId on the restore operation).
    Plaintext segments pass through untouched either way."""
    from esop_spark.functions import crypto
    from esop_spark.operators.commitlog import commitlog_window
    from esop_spark.streaming.commitlog_stream import archived_commitlogs

    inv = archived_commitlogs(spark, bucket_dir)
    selected = commitlog_window(inv, start_ms, end_ms)
    os.makedirs(target_dir, exist_ok=True)
    n = 0
    for r in selected.select("name", "ts").collect():
        src = os.path.join(bucket_dir, "commitlog", f"{r['name']}.{r['ts']}")
        crypto.decrypt_to(src, os.path.join(target_dir, r["name"]), kms_key_id)
        n += 1
    return n


def delete_objects(paths: DataFrame, dry_run: bool = False) -> tuple[int, list[int]]:
    """Delete the objects named by ``paths``' single column in one Spark
    action; returns (objects, per-request batch sizes).

    Each partition issues DeleteObjects-sized bulk requests (100
    keys/request, BaseS3Restorer.java:252-276) and yields its key count and
    request log (n/100 ints — bounded collect). The counts are the deleting
    action's own task results, so they are exact under task retries.
    ``dry_run`` counts the objects and deletes nothing.
    """

    def delete_partition(rows):
        from esop_spark.sources.cloud_profiles import delete_objects_batched

        keys = [row[0] for row in rows]
        yield len(keys), [] if dry_run else delete_objects_batched(keys)

    done = paths.rdd.mapPartitions(delete_partition).collect()
    return sum(n for n, _ in done), [s for _, sizes in done for s in sizes]


def remove_backup(
    spark: SparkSession,
    bucket_dir: str,
    backup_name: str | None = None,
    oldest: bool = False,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> dict[str, int]:
    """Safe backup removal (SURVEY.md §0.4): delete only objects referenced
    exclusively by the victim backups, then their manifests.

    Victim selection mirrors RemoveBackupOperation.java:177-190: exact name
    XOR --oldest XOR --older-than, decided from the manifest file listing. A
    manifest whose name has no ``-<millis>`` tail has no timestamp: it is
    never older than a cutoff and loses --oldest to any timestamped backup.
    ``dry_run`` counts the deletion set and deletes nothing (the
    reference's report mode).
    """
    manifests_dir = os.path.join(bucket_dir, "manifests")
    listing = manifest_json.list_manifests(manifests_dir)
    if backup_name is not None:
        victims = [n for n, _ in listing if n == backup_name]
    elif oldest:
        victims = [
            min(listing, key=lambda m: (m[1] is None, m[1] or 0, m[0]))[0]
        ] if listing else []
    elif older_than_ms is not None:
        victims = [n for n, ts in listing if ts is not None and ts < older_than_ms]
    else:
        raise ValueError("select victims via backup_name, oldest, or older_than_ms")

    n_objects, batch_sizes = 0, []
    if victims:
        removable = manifest.removable_entries(
            manifest_json.read_manifests(spark, manifests_dir), victims
        )
        abs_bucket = os.path.abspath(bucket_dir)
        n_objects, batch_sizes = delete_objects(
            removable.select(F.concat(F.lit(abs_bucket + "/"), "object_key")), dry_run
        )
    if not dry_run:
        # victim manifests (one per backup, driver-small) go last, so a
        # crashed run stays listable
        for name in victims:
            mp = os.path.join(manifests_dir, f"{name}.json")
            if os.path.exists(mp):
                os.remove(mp)
    return {
        "backups_removed": len(victims),
        "objects_removed": n_objects,
        "delete_requests": len(batch_sizes),
        "max_delete_batch": max(batch_sizes, default=0),
    }


def latest_backup(manifests_dir: str) -> str:
    """The newest backup by manifest name (ties → larger name; a manifest
    with no ``-<millis>`` tail sorts after every timestamped one, as
    Spark's ``desc`` puts nulls last) whose manifest lists an entry: a
    truncated or empty manifest is passed over, as reading the entries
    would pass over it."""
    listing = manifest_json.list_manifests(manifests_dir)
    for name, _ in sorted(
        listing, key=lambda m: (m[1] is not None, m[1] or 0, m[0]), reverse=True
    ):
        if manifest_json.has_entries(os.path.join(manifests_dir, f"{name}.json")):
            return name
    raise ValueError(f"no manifests with entries in {manifests_dir}")


def restore(
    spark: SparkSession,
    bucket_dir: str,
    target_dir: str,
    backup_name: str | None = None,
    delete_extras: bool = True,
    cassandra_config_dir: str | None = None,
    retry=None,
) -> dict[str, int]:
    """Restore a backup into ``target_dir``; returns action counts.

    Files land under ``<target_dir>/<keyspace>/<table>-<id>/<component>``.
    The mismatch (corruption) leg re-downloads; extras are deleted only after
    downloads succeed (ordering gate). A named backup whose manifest lists
    no entry (missing, truncated or empty) raises instead of treating every
    local file as an extra.

    ``cassandra_config_dir`` opts into the in-place finish: rewrite that
    directory's ``cassandra.yaml`` (``auto_bootstrap: false`` + the
    manifest's ``initial_token`` fragment) so the node rejoins at its old
    ring position — the reference's ``--update-cassandra-yaml``
    (InPlaceRestorationStrategy.java:125-160).
    """
    manifests_dir = os.path.join(bucket_dir, "manifests")
    if not os.path.isdir(manifests_dir):
        raise ValueError(f"no manifests directory in {bucket_dir!r} — nothing to restore")
    if backup_name is None:
        backup_name = latest_backup(manifests_dir)
    elif not manifest_json.has_entries(os.path.join(manifests_dir, f"{backup_name}.json")):
        # an empty file set would make every local file an extra
        raise ValueError(f"backup {backup_name!r} has no manifest entries — nothing to restore")
    mf = manifest_json.read_manifests(
        spark, os.path.join(manifests_dir, f"{backup_name}.json")
    )

    # local relative path: ks/table-id/[idxdir/]component (enrichment P14 —
    # object keys drop the <generation>-<digest> path component)
    parts = F.split(F.col("object_key"), "/")
    rel = F.when(
        F.size(parts) == 6,
        F.concat_ws(
            "/",
            F.element_at(parts, 2),
            F.element_at(parts, 3),
            F.element_at(parts, 4),
            F.element_at(parts, 6),
        ),
    ).otherwise(
        F.concat_ws(
            "/", F.element_at(parts, 2), F.element_at(parts, 3), F.element_at(parts, 5)
        )
    )
    mf_files = mf.select(
        rel.alias("rel_file"), "object_key", "size", "hash", "kms_key_id"
    ).distinct()

    local = snapshot_scan.list_local_files(spark, [target_dir]) if os.path.isdir(
        target_dir
    ) and os.listdir(target_dir) else None
    if local is not None:
        # hash-verify gate: local files are re-hashed (distributed binaryFile
        # read rooted at the walked parent dirs, semi-joined to the walked
        # file set) so corrupted files join the download set — the
        # reference's round-2 mismatch leg (DataSynchronizator.java:79-91,
        # SSTableUtils.isExistingSStable). Only the DIRECTORY list touches
        # the driver; the file set stays a DataFrame end-to-end.
        from esop_spark.functions.scalars import content_hash

        local_dirs = [
            dp
            for dp, _dns, fns in os.walk(target_dir)
            if fns
            and "/snapshots/" not in dp + "/"
            and "/backups/" not in dp + "/"
        ]
        hashed = snapshot_scan.load_binary_files_for(spark, local_dirs, local).select(
            "local_path", content_hash(F.col("content")).alias("local_hash")
        )
        lp = F.col("local_path")
        local = hashed.select(
            F.substring(lp, len(os.path.abspath(target_dir)) + 2, 1 << 20).alias("rel_file"),
            "local_path",
            "local_hash",
        )
        # both legs read the join: cache it so the local files hash once
        joined = mf_files.join(local, "rel_file", "full_outer").persist()
        to_download = joined.filter(
            F.col("local_hash").isNull()
            | (F.col("hash").isNotNull() & (F.col("hash") != F.col("local_hash")))
        ).select("rel_file", "object_key", "kms_key_id")
        to_delete = joined.filter(F.col("object_key").isNull()).select("local_path")
    else:
        to_download = mf_files.select("rel_file", "object_key", "kms_key_id")
        to_delete = None

    # src/dst are computed as columns and each leg is one action whose tasks
    # do the work and return their counts: nothing proportional to file
    # count ever lands on the driver. Extras are deleted only after every
    # download succeeded.
    abs_bucket, abs_target = os.path.abspath(bucket_dir), os.path.abspath(target_dir)

    def download_partition(rows):
        from esop_spark.functions import crypto
        from esop_spark.functions.retry import with_retries

        n = 0
        for row in rows:
            os.makedirs(os.path.dirname(row["dst"]), exist_ok=True)
            # decrypt-aware copy: plaintext objects pass through untouched
            with_retries(
                lambda: crypto.decrypt_to(row["src"], row["dst"], row["kms_key_id"]), retry
            )
            n += 1
        yield n

    n_downloaded = sum(
        to_download.select(
            F.concat(F.lit(abs_bucket + "/"), F.col("object_key")).alias("src"),
            F.concat(F.lit(abs_target + "/"), F.col("rel_file")).alias("dst"),
            "kms_key_id",
        )
        .rdd.mapPartitions(download_partition)
        .collect()
    )
    n_deleted = 0
    if to_delete is not None and delete_extras:
        n_deleted, _ = delete_objects(to_delete)
    if local is not None:
        joined.unpersist()
    out = {"downloaded": n_downloaded, "deleted": n_deleted}
    if cassandra_config_dir is not None:
        from esop_spark.operators import cassandra_yaml

        tokens = manifest_json.read_backup_tokens(spark, manifests_dir, backup_name)
        out["cassandra_yaml"] = cassandra_yaml.update_cassandra_yaml(
            os.path.join(cassandra_config_dir, "cassandra.yaml"), tokens
        )
    return out

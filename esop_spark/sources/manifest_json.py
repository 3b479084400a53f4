"""Manifest JSON source/sink (SURVEY.md §2.1 S6/S7/S14).

Reads esop manifest JSON files (nested snapshot→keyspace→table→sstable→entry
maps, README.adoc "Manifest" example) into the flat ``manifest_entries``
relation, and writes it back out in the same nested shape.

- Ingestion is ``spark.read.json`` with an EXPLICIT schema (never inferred)
  + higher-order-function explosion of the nested maps — one narrow pipeline,
  no shuffle until the caller aggregates.
- The pre-2.0 legacy shim: old manifests stored a flat ``entries`` list per
  table which the reference reclassifies into the ``sstables`` map on read
  (/root/reference/core/src/main/java/com/instaclustr/esop/impl/Snapshots.java:537-552);
  here that's a ``coalesce`` of the two shapes at explode time.
- Cloud prefixes (s3a://…/manifests/) work unchanged — the path is just a
  Hadoop FS URI, which subsumes the reference's local cache dance
  (s3/.../BaseS3Restorer.java:296-306).
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from esop_spark.functions.scalars import SSTABLE_RE

ENTRY_SCHEMA = StructType(
    [
        StructField("objectKey", StringType()),
        StructField("type", StringType()),
        StructField("size", LongType()),
        StructField("hash", StringType()),
        # KMS key the object was encrypted with (ManifestEntry.kmsKeyId,
        # impl/ManifestEntry.java:48-49). The reference keeps it off-JSON
        # (@JsonIgnore) because S3 object tags carry it; this engine has no
        # tag store, so the manifest — our only durable metadata — carries it
        # as an OPTIONAL field: to_json drops nulls, so unencrypted backups
        # serialize byte-identically to the reference shape.
        StructField("kmsKeyId", StringType()),
    ]
)

TABLE_SCHEMA = StructType(
    [
        StructField("sstables", MapType(StringType(), ArrayType(ENTRY_SCHEMA))),
        # legacy pre-2.0 flat list (Snapshots.java:537-552)
        StructField("entries", ArrayType(ENTRY_SCHEMA)),
        StructField("id", StringType()),
        StructField("schemaContent", StringType()),
    ]
)

MANIFEST_SCHEMA = StructType(
    [
        StructField(
            "snapshot",
            StructType(
                [
                    StructField("name", StringType()),
                    StructField(
                        "keyspaces",
                        MapType(
                            StringType(),
                            StructType(
                                [StructField("tables", MapType(StringType(), TABLE_SCHEMA))]
                            ),
                        ),
                    ),
                ]
            ),
        ),
        StructField("tokens", ArrayType(StringType())),
        StructField("schemaVersion", StringType()),
        StructField("manifest", ENTRY_SCHEMA),
    ]
)


# a backup's timestamp is the numeric ``-<millis>`` tail of its manifest's
# name; a name without one has a null timestamp
BACKUP_TS_RE = r"-([0-9]+)$"


def list_manifests(manifests_dir: str) -> list[tuple[str, int | None]]:
    """(backup_name, backup_ts) of every manifest file in ``manifests_dir``,
    from the directory listing alone — what ``read_manifests`` would report,
    without a Spark job. Hidden files are skipped, as Spark's file index
    skips them; a tail beyond bigint is null, as ``try_cast`` makes it."""
    out = []
    for f in sorted(os.listdir(manifests_dir)):
        if not f.startswith((".", "_")):
            name = re.sub(r"\.json$", "", f)
            m = re.search(BACKUP_TS_RE, name)
            ts = int(m.group(1)) if m else None
            out.append((name, ts if ts is not None and ts < 1 << 63 else None))
    return out


def read_manifests(
    spark: SparkSession, path: str, include_path: bool = False
) -> DataFrame:
    """S6/S7: manifest JSON dir → flat ``manifest_entries`` DataFrame.

    Output: (backup_name, backup_ts, keyspace, table_name, table_id,
    schema_content, sstable_base, object_key, type, size, hash)
    [+ manifest_path when ``include_path`` — used by the fleet reader to
    recover the <dc>/<node> storage-location components from a glob read].
    """
    raw = (
        spark.read.schema(MANIFEST_SCHEMA)
        .option("multiLine", "true")
        .json(path)
        .withColumn("manifest_path", F.input_file_name())
        .withColumn(
            "backup_name",
            F.regexp_replace(
                F.element_at(F.split(F.col("manifest_path"), "/"), -1), r"\.json$", ""
            ),
        )
        .withColumn(
            "backup_ts",
            F.regexp_extract("backup_name", BACKUP_TS_RE, 1).try_cast("bigint"),
        )
    )
    path_cols = ["manifest_path"] if include_path else []
    ks = raw.select(
        "backup_name",
        "backup_ts",
        F.col("schemaVersion").alias("schema_version"),
        F.explode("snapshot.keyspaces").alias("keyspace", "ksdata"),
        *path_cols,
    )
    tbl = ks.select(
        "backup_name",
        "backup_ts",
        "schema_version",
        "keyspace",
        F.explode("ksdata.tables").alias("table_name", "t"),
        *path_cols,
    )
    # modern shape: sstables map; legacy shape: flat entries keyed by the
    # sstable base extracted from each entry's file name (the shim).
    modern = F.flatten(
        F.transform(
            F.map_entries("t.sstables"),
            lambda kv: F.transform(
                kv["value"], lambda e: F.struct(kv["key"].alias("base"), e.alias("e"))
            ),
        )
    )
    legacy = F.transform(
        F.col("t.entries"),
        lambda e: F.struct(
            F.regexp_extract(
                F.element_at(F.split(e["objectKey"], "/"), -1), SSTABLE_RE, 1
            ).alias("base"),
            e.alias("e"),
        ),
    )
    return tbl.select(
        "backup_name",
        "backup_ts",
        "schema_version",
        "keyspace",
        "table_name",
        F.col("t.id").alias("table_id"),
        F.col("t.schemaContent").alias("schema_content"),
        F.explode(F.coalesce(modern, legacy)).alias("se"),
        *path_cols,
    ).select(
        "backup_name",
        "backup_ts",
        "schema_version",
        "keyspace",
        "table_name",
        "table_id",
        "schema_content",
        F.col("se.base").alias("sstable_base"),
        F.col("se.e.objectKey").alias("object_key"),
        F.col("se.e.type").alias("type"),
        F.col("se.e.size").alias("size"),
        F.col("se.e.hash").alias("hash"),
        F.col("se.e.kmsKeyId").alias("kms_key_id"),
        *path_cols,
    )


def read_backup_tokens(
    spark: SparkSession, manifests_dir: str, backup_name: str
) -> list[str]:
    """Ring tokens recorded in one backup's manifest (impl/Manifest.java
    tokens field) — the input to the in-place restore's ``initial_token``
    yaml fragment. One manifest document, driver-tiny."""
    raw = (
        spark.read.schema(MANIFEST_SCHEMA)
        .option("multiLine", "true")
        .json(os.path.join(manifests_dir, f"{backup_name}.json"))
        .select("tokens")
        .collect()
    )
    if not raw or raw[0]["tokens"] is None:
        return []
    return list(raw[0]["tokens"])


def _without_nulls(x):
    """Drop null fields recursively, as ``to_json`` does."""
    if isinstance(x, dict):
        return {k: _without_nulls(v) for k, v in x.items() if v is not None}
    if isinstance(x, list):
        return [_without_nulls(v) for v in x]
    return x


def has_entries(path: str) -> bool:
    """Whether the manifest at ``path`` parses and lists at least one entry
    (modern ``sstables`` or legacy ``entries``). A truncated document, or
    one with no keyspaces, lists none, and Spark's permissive read yields
    no rows for it. One document parsed on the driver — the same bound as
    :func:`write_manifests` and the reference's Jackson reader."""
    try:
        with open(path) as f:
            keyspaces = json.load(f)["snapshot"]["keyspaces"].values()
        return any(
            any((t.get("sstables") or {}).values()) or t.get("entries")
            for ks in keyspaces
            for t in ks["tables"].values()
        )
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return False


def write_manifests(rows, out_dir: str, tokens: list[str] | None = None) -> list[str]:
    """S14: write one ``<backup_name>.json`` per backup under ``out_dir``,
    nested in the reference's shape (snapshot → keyspaces → tables →
    sstables → entries).

    ``rows`` are flat manifest-entry rows already on the driver — the
    backup pipeline passes the metadata rows its transfer action returned,
    so writing costs no Spark job. Keyspaces, tables, sstables and entries
    come out sorted, so the same entries always give the same document;
    null fields are omitted, as ``to_json`` omits them. ``tokens`` (the
    backing node's ring tokens, impl/Manifest.java tokens field) are
    embedded verbatim in each doc — they feed the in-place restore's
    ``initial_token`` rewrite. Written after every object is uploaded,
    mirroring the reference's manifest-uploaded-last ordering
    (BaseBackupOperationCoordinator.java:151-153). Each document is written
    to a hidden temp file and renamed into place, so a crash mid-write
    never leaves a partial manifest where listings and readers see it
    (both skip dot files). Driver memory bound: one metadata row (no
    content) per file of one backup — the same in-heap bound the
    reference's Jackson writer has for the document (impl/Manifest.java).
    """
    docs: dict[str, dict] = {}
    order = ("keyspace", "table_name", "sstable_base", "object_key")
    for r in sorted(
        (r.asDict() for r in rows), key=lambda r: tuple(r.get(k) or "" for k in order)
    ):
        doc = docs.setdefault(r["backup_name"], {
            "snapshot": {"name": r["backup_name"], "keyspaces": {}},
            "schemaVersion": r.get("schema_version"),
            "tokens": None if tokens is None else list(tokens),
        })
        tables = doc["snapshot"]["keyspaces"].setdefault(r["keyspace"], {"tables": {}})
        table = tables["tables"].setdefault(r["table_name"], {
            "sstables": {}, "id": r.get("table_id"), "schemaContent": r.get("schema_content"),
        })
        table["sstables"].setdefault(r["sstable_base"], []).append({
            "objectKey": r["object_key"], "type": r.get("type"), "size": r.get("size"),
            "hash": r.get("hash"), "kmsKeyId": r.get("kms_key_id"),
        })
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for name, doc in docs.items():
        p = os.path.join(out_dir, f"{name}.json")
        tmp = os.path.join(out_dir, f".{name}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(_without_nulls(doc), f, indent=2)
        os.replace(tmp, p)
        paths.append(p)
    return paths

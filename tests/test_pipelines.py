"""End-to-end backup → list → restore over a synthetic snapshot tree
(the Spark-native analog of the reference's embedded-Cassandra e2e suite,
AbstractBackupTest.java / BaseListingRemovalTest.java)."""

import json
import os

import pytest

from esop_spark.operators import manifest as manifest_ops
from esop_spark.operators import pipelines
from esop_spark.sources import manifest_json, snapshot_scan

TABLE_ID = "5f2fbdad025f1b45a6cd84e52b42a1d4"


def make_tree(root, tag, files):
    """files: {(ks, table, component): content}"""
    for (ks, table, comp), content in files.items():
        d = os.path.join(root, ks, f"{table}-{TABLE_ID}", "snapshots", tag)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, comp), "w") as f:
            f.write(content)


BASE_FILES = {
    ("ks1", "t1", "me-1-big-Data.db"): "alpha-data",
    ("ks1", "t1", "me-1-big-Index.db"): "alpha-index",
    ("ks1", "t2", "me-2-big-Data.db"): "bravo-data",
    ("ks2", "t3", "da-1-bti-Data.db"): "charlie-data",
}


@pytest.fixture()
def tree(tmp_path):
    data = tmp_path / "data"
    bucket = tmp_path / "bucket"
    make_tree(str(data), "snap1", BASE_FILES)
    return str(data), str(bucket), str(tmp_path)


def test_scan_groups_and_content_addresses(spark, tree):
    data, _, _ = tree
    df = snapshot_scan.scan_snapshot_tree(spark, [data], "snap1")
    rows = df.collect()
    assert len(rows) == 4
    by_comp = {os.path.basename(r["local_path"]): r for r in rows}
    # components of the same sstable share the digest → same key prefix
    d = by_comp["me-1-big-Data.db"]
    i = by_comp["me-1-big-Index.db"]
    assert d["object_key"].rsplit("/", 1)[0] == i["object_key"].rsplit("/", 1)[0]
    assert d["sstable_base"] == "me-1-big" and d["keyspace"] == "ks1"
    assert len(d["hash"]) == 64


def test_kms_key_round_trips_and_never_encrypts_manifests(spark, tree):
    """S11 encryption leg: --kms-key-id tags every FILE entry and survives
    the manifest JSON round trip; manifests are never encrypted
    (UploadTracker.java:133-139); unencrypted backups serialize without the
    field (reference JSON-shape parity — ManifestEntry.kmsKeyId is
    @JsonIgnore there)."""
    data, bucket, _ = tree
    pipelines.backup(
        spark, [data], "snap1", bucket,
        schema_version="sv1", ts_millis=1000, kms_key_id="arn:key/123",
    )
    entries = manifest_json.read_manifests(spark, os.path.join(bucket, "manifests"))
    rows = entries.collect()
    assert rows and all(r["kms_key_id"] == "arn:key/123" for r in rows)

    make_tree(data, "snap2", BASE_FILES)
    pipelines.backup(spark, [data], "snap2", bucket, schema_version="sv1", ts_millis=2000)
    with open(os.path.join(bucket, "manifests", "snap2-sv1-2000.json")) as f:
        assert "kmsKeyId" not in f.read()

    mixed = spark.createDataFrame(
        [("a", "FILE"), ("c", "COMMIT_LOG"), ("m", "MANIFEST_FILE")],
        "object_key string, type string",
    )
    tagged = {
        r["object_key"]: r["kms_key_id"]
        for r in pipelines.with_kms_key(mixed, "k1").collect()
    }
    assert tagged == {"a": "k1", "c": "k1", "m": None}


def test_sstable_digest_reference_parity(spark, tmp_path):
    """SSTableUtils.java:48-102 parity: Digest-sibling token (crc32 →
    adler32 → sha1, invalid content falls through) else Adler32 of the
    Data.db tail — ids must equal what the reference would compute."""
    import zlib

    data = str(tmp_path / "data")
    files = {
        # crc32 sibling wins; its token is the digest for every component
        ("ks1", "t1", "me-1-big-Data.db"): "alpha-data",
        ("ks1", "t1", "me-1-big-Index.db"): "alpha-index",
        ("ks1", "t1", "me-1-big-Digest.crc32"): "3785158222",
        # crc32 sibling content has a trailing newline → Java matches()
        # fails → falls through to the adler32 sibling
        ("ks1", "t2", "me-2-big-Data.db"): "bravo-data",
        ("ks1", "t2", "me-2-big-Digest.crc32"): "999\n",
        ("ks1", "t2", "me-2-big-Digest.adler32"): "424242",
        # no digest sibling at all (C* 2.0 jb style) → Adler32 of Data.db
        ("ks2", "t3", "instaclustr-recovery_codes-jb-1-Data.db"): "charlie-data",
    }
    make_tree(data, "snap1", files)
    rows = snapshot_scan.scan_snapshot_tree(spark, [data], "snap1").collect()
    ids = {
        os.path.basename(r["local_path"]): r["object_key"].split("/")[-2]
        for r in rows
    }
    assert ids["me-1-big-Data.db"] == "1-3785158222"
    assert ids["me-1-big-Index.db"] == "1-3785158222"
    assert ids["me-1-big-Digest.crc32"] == "1-3785158222"
    assert ids["me-2-big-Data.db"] == "2-424242"
    expected = str(zlib.adler32(b"charlie-data") & 0xFFFFFFFF)
    assert ids["instaclustr-recovery_codes-jb-1-Data.db"] == f"1-{expected}"


def test_adler32_tail_slices_last_10mb(spark):
    """Files ≥ 10 MB checksum only their final 10 MB (SSTableUtils.java:80-88)."""
    import zlib

    from esop_spark.functions import scalars

    big = bytes(range(256)) * (11 * 4096)  # 11 MiB, non-uniform
    df = spark.createDataFrame([(big, len(big))], "content binary, size long")
    got = df.select(
        scalars.adler32_tail("content", "size").alias("a")
    ).collect()[0]["a"]
    assert got == str(zlib.adler32(big[-scalars.ADLER32_TAIL_BYTES :]) & 0xFFFFFFFF)


def test_scan_excludes_non_sstable_files(spark, tmp_path):
    """schema.cql / manifest.json in a snapshot dir are not manifest entries
    (SSTableUtils.java:122,134 post-group filter)."""
    data = str(tmp_path / "data")
    make_tree(
        data,
        "snap1",
        {
            ("ks1", "t1", "me-1-big-Data.db"): "alpha-data",
            ("ks1", "t1", "schema.cql"): "CREATE TABLE t1 (...);",
            ("ks1", "t1", "manifest.json"): "{}",
        },
    )
    rows = snapshot_scan.scan_snapshot_tree(spark, [data], "snap1").collect()
    assert [os.path.basename(r["local_path"]) for r in rows] == ["me-1-big-Data.db"]


def test_backup_is_incremental_and_restore_round_trips(spark, tree):
    data, bucket, root = tree
    up1 = pipelines.backup(
        spark, [data], "snap1", bucket, schema_version="sv1", ts_millis=1000
    )
    assert up1.count() == 4

    # second backup of identical data uploads nothing (freshen skip J1)
    make_tree(data, "snap2", BASE_FILES)
    up2 = pipelines.backup(
        spark, [data], "snap2", bucket, schema_version="sv1", ts_millis=2000
    )
    assert up2.count() == 0

    # listing over the written manifests: 2 backups, shared objects → second
    # backup fully deduplicated, reclaimable == 0 for both
    entries = manifest_json.read_manifests(spark, os.path.join(bucket, "manifests"))
    report = {
        r["backup_name"]: r
        for r in manifest_ops.list_backups(
            entries.withColumnRenamed("backup_ts", "backup_ts")
        ).collect()
    }
    assert len(report) == 2
    for r in report.values():
        assert r["files"] == 4
        assert r["reclaimable_bytes"] == 0

    # restore into a fresh dir reproduces every file byte-for-byte
    target = os.path.join(root, "restored")
    stats = pipelines.restore(spark, bucket, target, backup_name="snap2-sv1-2000")
    assert stats["downloaded"] == 4
    for (ks, table, comp), content in BASE_FILES.items():
        p = os.path.join(target, ks, f"{table}-{TABLE_ID}", comp)
        with open(p) as f:
            assert f.read() == content

    # corrupt one file + add an extra → restore heals: re-download + delete
    victim = os.path.join(target, "ks1", f"t1-{TABLE_ID}", "me-1-big-Data.db")
    with open(victim, "w") as f:
        f.write("corrupted!")
    extra = os.path.join(target, "ks1", f"t1-{TABLE_ID}", "stray.db")
    with open(extra, "w") as f:
        f.write("stray")
    stats = pipelines.restore(spark, bucket, target, backup_name="snap2-sv1-2000")
    assert stats["deleted"] == 1
    assert stats["downloaded"] == 1  # the corrupted file re-downloads
    assert not os.path.exists(extra)
    with open(victim) as f:
        assert f.read() == BASE_FILES[("ks1", "t1", "me-1-big-Data.db")]  # healed


def test_manifest_json_round_trip(spark, tree):
    data, bucket, _ = tree
    pipelines.backup(spark, [data], "snap1", bucket, schema_version="sv1", ts_millis=1000)
    entries = manifest_json.read_manifests(spark, os.path.join(bucket, "manifests"))
    rows = entries.collect()
    assert len(rows) == 4
    r = rows[0]
    assert r["backup_name"] == "snap1-sv1-1000"
    assert r["backup_ts"] == 1000
    assert r["schema_version"] == "sv1"
    assert r["table_id"] == TABLE_ID
    # write back out and re-read: identical flat relation
    out2 = os.path.join(bucket, "manifests2")
    manifest_json.write_manifests(rows, out2)
    again = manifest_json.read_manifests(spark, out2)
    a = {tuple(sorted(r.asDict().items())) for r in rows}
    b = {tuple(sorted(r.asDict().items())) for r in again.collect()}
    assert a == b


def test_legacy_flat_entries_shim(spark, tmp_path):
    legacy = {
        "snapshot": {
            "name": "old",
            "keyspaces": {
                "ks1": {
                    "tables": {
                        "t1": {
                            "entries": [
                                {
                                    "objectKey": "data/ks1/t1-x/1-abc/me-1-big-Data.db",
                                    "type": "FILE",
                                    "size": 10,
                                    "hash": "h",
                                }
                            ],
                            "id": "x",
                            "schemaContent": "CREATE ...",
                        }
                    }
                }
            },
        },
        "schemaVersion": "sv0",
    }
    import json

    mdir = tmp_path / "manifests"
    mdir.mkdir()
    (mdir / "old-sv0-500.json").write_text(json.dumps(legacy))
    df = manifest_json.read_manifests(spark, str(mdir))
    r = df.collect()[0]
    assert r["sstable_base"] == "me-1-big"
    assert r["backup_ts"] == 500
    assert r["object_key"].endswith("me-1-big-Data.db")


def test_backup_returns_materialized_upload_set(spark, tree):
    """The returned upload set is data, not a plan over the snapshot: it
    still collects after the snapshot directories are gone."""
    import shutil

    data, bucket, _ = tree
    up = pipelines.backup(spark, [data], "snap1", bucket, schema_version="sv1", ts_millis=1000)
    shutil.rmtree(data)
    rows = up.collect()
    assert len(rows) == 4 and up.count() == 4
    assert {r["size"] for r in rows} == {len(v) for v in BASE_FILES.values()}


def test_manifest_documents_are_deterministic(spark, tmp_path):
    """Two backups of one tree write byte-identical documents apart from
    snapshot.name: keyspaces, tables, sstables and entries come out sorted,
    and null kmsKeyId / schemaContent are omitted."""
    data, bucket = str(tmp_path / "data"), str(tmp_path / "bucket")
    files = {
        (ks, t, f"me-{g}-big-{c}.db"): f"{ks}-{t}-{g}-{c}"
        for ks in ("ks2", "ks1") for t in ("t3", "t1") for g in (7, 2, 11)
        for c in ("Index", "Data")
    }
    texts = []
    for tag in ("snap1", "snap2"):
        make_tree(data, tag, files)
        pipelines.backup(spark, [data], tag, bucket, schema_version="sv1", ts_millis=1000)
        with open(os.path.join(bucket, "manifests", f"{tag}-sv1-1000.json")) as f:
            texts.append(f.read())
    assert texts[1] == texts[0].replace('"snap1-sv1-1000"', '"snap2-sv1-1000"')
    assert "kmsKeyId" not in texts[0] and "schemaContent" not in texts[0]
    doc = json.loads(texts[0])
    keyspaces = doc["snapshot"]["keyspaces"]
    assert list(keyspaces) == ["ks1", "ks2"]
    table = keyspaces["ks1"]["tables"]["t1"]
    assert table["id"] == TABLE_ID
    assert list(table["sstables"]) == ["me-11-big", "me-2-big", "me-7-big"]
    keys = [e["objectKey"] for e in table["sstables"]["me-2-big"]]
    assert keys == sorted(keys) and len(keys) == 2


def test_delete_objects_counts_come_from_the_deleting_action(spark, tmp_path):
    paths = [str(tmp_path / f"obj-{i}") for i in range(230)]
    for p in paths:
        open(p, "w").close()
    df = spark.createDataFrame([(p,) for p in paths], "path string").repartition(2)
    assert pipelines.delete_objects(df, dry_run=True) == (230, [])
    assert all(os.path.exists(p) for p in paths)
    n, sizes = pipelines.delete_objects(df)
    assert n == 230 and sum(sizes) == 230 and 0 < max(sizes) <= 100
    assert not any(os.path.exists(p) for p in paths)


def test_unreadable_newest_manifest_is_not_latest_and_never_wipes(spark, tree):
    """A truncated or entry-less manifest is never picked as the latest
    backup, and restoring one by name raises instead of deleting every
    local file as an extra."""
    data, bucket, tmp = tree
    pipelines.backup(spark, [data], "snap1", bucket, schema_version="sv", ts_millis=1000)
    mdir = os.path.join(bucket, "manifests")
    with open(os.path.join(mdir, "snap1-sv-1000.json")) as f:
        doc = f.read()
    with open(os.path.join(mdir, "snap3-sv-3000.json"), "w") as f:
        f.write(doc[: len(doc) // 2])  # a crash mid-write by another writer
    with open(os.path.join(mdir, "snap2-sv-2000.json"), "w") as f:
        json.dump({"snapshot": {"name": "snap2-sv-2000", "keyspaces": {}}}, f)
    assert pipelines.latest_backup(mdir) == "snap1-sv-1000"

    target = os.path.join(tmp, "restored")
    assert pipelines.restore(spark, bucket, target)["downloaded"] == 4
    before = sorted(os.path.join(d, f) for d, _, fs in os.walk(target) for f in fs)
    for name in ("snap3-sv-3000", "snap2-sv-2000", "absent-sv-4000"):
        with pytest.raises(ValueError, match="no manifest entries"):
            pipelines.restore(spark, bucket, target, backup_name=name)
    assert sorted(os.path.join(d, f) for d, _, fs in os.walk(target) for f in fs) == before


def test_write_manifests_never_exposes_a_partial_document(spark, tree, monkeypatch):
    """A crash while a manifest is being written leaves the previous
    listing as it was: the document only appears by an atomic rename."""
    data, bucket, _ = tree
    pipelines.backup(spark, [data], "snap1", bucket, schema_version="sv", ts_millis=1000)
    mdir = os.path.join(bucket, "manifests")
    rows = manifest_json.read_manifests(spark, mdir).collect()
    renamed = [r.asDict() | {"backup_name": "snap2-sv-2000"} for r in rows]

    def crash(obj, f, **kw):
        f.write(json.dumps(obj)[:50])
        raise OSError("disk full")

    monkeypatch.setattr(manifest_json.json, "dump", crash)
    from pyspark.sql import Row

    with pytest.raises(OSError):
        manifest_json.write_manifests([Row(**r) for r in renamed], mdir)
    assert manifest_json.list_manifests(mdir) == [("snap1-sv-1000", 1000)]
    assert {r["backup_name"] for r in manifest_json.read_manifests(spark, mdir).collect()} == {
        "snap1-sv-1000"
    }

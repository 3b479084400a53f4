"""Listing render goldens + removal e2e (mirrors BaseListingRemovalTest.java:
backup twice → list in 4 formats → remove oldest → only unique files gone)."""

import json
import os

from esop_spark.operators import entities, manifest, pipelines, topology
from tests.test_pipelines import BASE_FILES, TABLE_ID, make_tree


def test_render_report_four_formats(spark):
    e = spark.createDataFrame(
        [
            ("b1-sv-1619537920284", 1619537920284, "ks", "t", "k1", 100000, "h1"),
            ("b1-sv-1619537920284", 1619537920284, "ks", "t", "k2", 13100, "h2"),
            ("b2-sv-1619537921000", 1619537921000, "ks", "t", "k2", 13100, "h2"),
        ],
        "backup_name string, backup_ts long, keyspace string, table_name string,"
        " object_key string, size long, hash string",
    )
    plain = manifest.render_report(e, fmt="table")
    lines = plain.splitlines()
    assert lines[0].split() == ["name", "timestamp", "files", "size", "reclaimable"]
    # newest first
    assert lines[1].startswith("b2-sv-1619537921000 2021-04-27T15:38:41")
    assert lines[2].startswith("b1-sv-1619537920284 2021-04-27T15:38:40.284")
    # totals over DISTINCT objects: k1 (100000) + k2 (13100) counted once
    assert lines[3].split() == ["TOTAL", "2", "113100", "100000"]

    human = manifest.render_report(e, fmt="table", human_units=True)
    assert "113.1 kB" in human and "13.1 kB" in human

    j = json.loads(manifest.render_report(e, fmt="json"))
    assert j["totalFiles"] == 2 and j["totalSize"] == "113100"
    assert j["reports"][0]["name"] == "b2-sv-1619537921000"

    jh = json.loads(manifest.render_report(e, fmt="json", human_units=True))
    assert jh["totalSize"] == "113.1 kB"
    # --last-n keeps the oldest n, order restored (W4)
    last1 = manifest.render_report(e, fmt="json", last_n=1)
    assert [r["name"] for r in json.loads(last1)["reports"]] == ["b1-sv-1619537920284"]


def test_remove_backup_keeps_shared_objects(spark, tmp_path):
    data, bucket = str(tmp_path / "data"), str(tmp_path / "bucket")
    make_tree(data, "snap1", BASE_FILES)
    pipelines.backup(spark, [data], "snap1", bucket, schema_version="sv", ts_millis=1000)
    # second snapshot shares 4 files, adds 1 unique
    extra = dict(BASE_FILES)
    extra[("ks1", "t1", "me-9-big-Data.db")] = "unique-to-snap2"
    make_tree(data, "snap2", extra)
    pipelines.backup(spark, [data], "snap2", bucket, schema_version="sv", ts_millis=2000)

    # dry run reports without deleting
    stats = pipelines.remove_backup(spark, bucket, oldest=True, dry_run=True)
    assert stats == {"backups_removed": 1, "objects_removed": 0,
                     "delete_requests": 0, "max_delete_batch": 0}
    assert os.path.exists(os.path.join(bucket, "manifests", "snap1-sv-1000.json"))

    # removing snap2 deletes ONLY its unique object + manifest
    stats = pipelines.remove_backup(spark, bucket, backup_name="snap2-sv-2000")
    assert stats["backups_removed"] == 1 and stats["objects_removed"] == 1
    assert not os.path.exists(os.path.join(bucket, "manifests", "snap2-sv-2000.json"))
    # snap1 still fully restorable
    target = str(tmp_path / "restored")
    r = pipelines.restore(spark, bucket, target, backup_name="snap1-sv-1000")
    assert r["downloaded"] == 4


def test_missing_entities_and_import_join(spark):
    requested = spark.createDataFrame(
        [("ks1", "t1"), ("ks1", "tX")], "keyspace string, table_name string"
    )
    catalog = spark.createDataFrame(
        [("ks1", "t1", "id1", "/d/ks1/t1-id1", 5)],
        "keyspace string, table_name string, table_id string, path string, mtime long",
    )
    missing = entities.missing_entities(requested, catalog).collect()
    assert [(r["keyspace"], r["table_name"]) for r in missing] == [("ks1", "tX")]
    joined = entities.import_join(requested, catalog).collect()
    assert len(joined) == 1 and joined[0]["local_table_id"] == "id1"


def test_schema_consensus(spark):
    t1 = spark.createDataFrame([("n1", "sv1"), ("n2", "sv1")], "h string, schema_version string")
    t2 = spark.createDataFrame([("n1", "sv1"), ("n2", "sv2")], "h string, schema_version string")
    assert topology.schema_consensus(t1) is True
    assert topology.schema_consensus(t2) is False


def test_untimestamped_manifest_sorts_last_and_is_never_a_victim(spark, tmp_path):
    """A manifest whose name has no numeric ``-<millis>`` tail has a null
    timestamp: ``list`` puts it after every timestamped backup (newest
    first, nulls last, as Spark's ``desc``), ``remove --oldest`` and
    ``--older-than`` never pick it, and it is never the latest backup."""
    import shutil

    from esop_spark.sources import manifest_json

    data, bucket = str(tmp_path / "data"), str(tmp_path / "bucket")
    for tag, ts in (("snap1", 1000), ("snap2", 2000)):
        make_tree(data, tag, BASE_FILES)
        pipelines.backup(spark, [data], tag, bucket, schema_version="sv", ts_millis=ts)
    mdir = os.path.join(bucket, "manifests")
    for name in ("adhoc", "snap0-sv-latest"):
        shutil.copy(os.path.join(mdir, "snap1-sv-1000.json"), os.path.join(mdir, f"{name}.json"))

    report = json.loads(
        manifest.render_report(manifest_json.read_manifests(spark, mdir), fmt="json")
    )
    assert [r["name"] for r in report["reports"]] == [
        "snap2-sv-2000", "snap1-sv-1000", "snap0-sv-latest", "adhoc",
    ]
    assert report["reports"][-1]["unixtimestamp"] is None
    assert report["totalFiles"] == 4
    table = manifest.render_report(manifest_json.read_manifests(spark, mdir))
    assert table.splitlines()[-2].split()[0] == "adhoc"
    assert pipelines.latest_backup(mdir) == "snap2-sv-2000"

    stats = pipelines.remove_backup(spark, bucket, oldest=True)
    assert stats["backups_removed"] == 1 and stats["objects_removed"] == 0
    assert sorted(os.listdir(mdir)) == ["adhoc.json", "snap0-sv-latest.json", "snap2-sv-2000.json"]

    stats = pipelines.remove_backup(spark, bucket, older_than_ms=10**15)
    assert stats["backups_removed"] == 1
    assert sorted(os.listdir(mdir)) == ["adhoc.json", "snap0-sv-latest.json"]

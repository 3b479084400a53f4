"""Spark job ceilings for the lifecycle commands: backup, list, remove and
restore each run one Spark action per side effect. A re-added
persist → count → foreachPartition pass shows up here as extra jobs."""

import os

from esop_spark.operators import manifest, pipelines
from esop_spark.sources import manifest_json
from tests.test_pipelines import BASE_FILES, make_tree

# measured on this tree with local[4] (backup 4, list 3, remove 2, restore
# 2, verify-only restore 7); each ceiling leaves one job of slack
CEILINGS = {"backup": 5, "list": 4, "remove": 3, "restore": 3, "verify": 8}


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lifecycle_job_ceilings(spark, tmp_path):
    data, bucket = str(tmp_path / "data"), str(tmp_path / "bucket")
    make_tree(data, "snap1", BASE_FILES)
    pipelines.backup(spark, [data], "snap1", bucket, schema_version="sv", ts_millis=1000)
    extra = dict(BASE_FILES)
    extra[("ks1", "t1", "me-9-big-Data.db")] = "unique-to-snap2"
    make_tree(data, "snap2", extra)
    target = str(tmp_path / "restored")
    manifests = os.path.join(bucket, "manifests")
    steps = [
        ("backup", lambda: pipelines.backup(
            spark, [data], "snap2", bucket, schema_version="sv", ts_millis=2000)),
        ("list", lambda: manifest.render_report(
            manifest_json.read_manifests(spark, manifests), fmt="json")),
        ("remove", lambda: pipelines.remove_backup(spark, bucket, oldest=True)),
        ("restore", lambda: pipelines.restore(spark, bucket, target)),
        ("verify", lambda: pipelines.restore(spark, bucket, target)),
    ]
    counts = {name: _jobs(spark, f"job-ceiling-{name}", fn) for name, fn in steps}
    over = {k: (counts[k], v) for k, v in CEILINGS.items() if counts[k] > v}
    assert not over, f"jobs over ceiling (got, ceiling): {over}; all: {counts}"

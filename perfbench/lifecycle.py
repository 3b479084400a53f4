"""The backup lifecycle workload: a full backup of a seeded Cassandra data
tree, then cycles of compaction churn → incremental backup → ``list`` →
``remove --oldest`` (three per unit of work), and at the end a restore into
an empty directory plus a verify-only second restore. Every step is checked against an independent
stdlib computation over the files and manifest JSON it left behind."""

from __future__ import annotations

import json
import os
import shutil

import gen

T0_MS = 1_700_000_000_000
# 2 keyspaces × 2 tables × 8 SSTables = 224 files; a cycle replaces a quarter
SHAPE = (2, 2, 8)
CHURN = 0.25
# each cycle is a round; wall_s is the median of the three, so a burst of
# load from outside that slows one cycle does not move it
CYCLES_PER_UNIT = 3


def bucket_objects(bucket: str) -> dict[str, int]:
    """object key → size, for every data object in the bucket."""
    root = os.path.join(bucket, "data")
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, bucket)] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def read_manifest_files(manifests_dir: str) -> dict[str, dict[str, int]]:
    """backup name → {object key: size}, straight from the manifest JSON."""
    out = {}
    for f in sorted(os.listdir(manifests_dir)):
        if not f.endswith(".json"):
            continue
        with open(os.path.join(manifests_dir, f)) as fh:
            doc = json.load(fh)
        objs = {}
        for ks in doc["snapshot"]["keyspaces"].values():
            for t in ks["tables"].values():
                for entries in t["sstables"].values():
                    for e in entries:
                        objs[e["objectKey"]] = e["size"]
        out[f[:-5]] = objs
    return out


def expected_report(manifests: dict[str, dict[str, int]]) -> dict:
    """What ``esop list`` must print: per-backup files/size/reclaimable
    (bytes of objects no other backup references) and distinct totals."""
    refs: dict[str, int] = {}
    for objs in manifests.values():
        for k in objs:
            refs[k] = refs.get(k, 0) + 1
    rows = {
        name: (len(objs), sum(objs.values()),
               sum(s for k, s in objs.items() if refs[k] == 1))
        for name, objs in manifests.items()
    }
    sizes = {k: s for objs in manifests.values() for k, s in objs.items()}
    return {
        "rows": rows,
        "totals": (len(sizes), sum(sizes.values()), sum(r[2] for r in rows.values())),
    }


def restore_mismatches(target: str, expected: dict[str, bytes]) -> list[str]:
    """Relative paths where the restored tree and ``expected`` (path →
    bytes) disagree: missing, extra or different files."""
    got = {}
    for dirpath, _, files in os.walk(target):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                got[os.path.relpath(p, target)] = fh.read()
    return sorted(k for k in got.keys() | expected.keys() if got.get(k) != expected.get(k))


def backup_ts(name: str) -> int:
    return int(name.rsplit("-", 1)[1])


class Lifecycle:
    op_name = "esop_op"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.cycle = 0
        self.failures: list[str] = []
        self.attempted = 0
        self.snap_bytes: dict[str, int] = {}
        self.latest_files: dict[str, bytes] = {}
        self.uploaded: list[tuple[int, int, bool]] = []
        self.removed: list[int] = []
        self.restored = 0

    @property
    def data_dir(self):
        return os.path.join(self.root, "data")

    @property
    def bucket(self):
        return os.path.join(self.root, "bucket")

    @property
    def manifests_dir(self):
        return os.path.join(self.bucket, "manifests")

    def generate(self, i: int) -> None:
        self.root = os.path.join(self.work, f"node-{i}")
        self.tree = gen.SSTableTree(self.seed, self.data_dir, *SHAPE)
        self.latest_files = self.tree.snapshot("snap-0")

    def _gate(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(msg)

    def _backup(self, tracer, tag: str, replaced: int | None) -> None:
        from esop_spark.operators import pipelines

        before = bucket_objects(self.bucket)
        ts = T0_MS + self.cycle * 60_000
        with tracer.span(self.op_name, op="backup", full=replaced is None):
            pipelines.backup(self.spark, [self.data_dir], tag, self.bucket, ts_millis=ts)
        name = f"{tag}-00000000-{ts}"
        for ks, table in self.tree.tables:
            shutil.rmtree(os.path.join(self.tree.table_dir(ks, table), "snapshots", tag))
        new = set(bucket_objects(self.bucket)) - set(before)
        n_files = len(self.latest_files)
        self.uploaded.append((len(new), n_files, replaced is None))
        self.snap_bytes[name] = sum(len(b) for b in self.latest_files.values())
        want = n_files if replaced is None else replaced * len(gen.COMPONENTS + ("Digest.crc32",))
        self._gate(len(new) == want, f"backup {name}: uploaded {len(new)} objects, want {want}")

    def _list(self, tracer) -> None:
        from esop_spark.operators import manifest
        from esop_spark.sources import manifest_json

        with tracer.span(self.op_name, op="list"):
            entries = manifest_json.read_manifests(self.spark, self.manifests_dir)
            report = json.loads(manifest.render_report(entries, fmt="json"))
        want = expected_report(read_manifest_files(self.manifests_dir))
        got = {
            "rows": {r["name"]: (r["files"], int(r["size"]), int(r["reclaimableSpace"]))
                     for r in report["reports"]},
            "totals": (report["totalFiles"], int(report["totalSize"]),
                       int(report["totalReclaimable"])),
        }
        self._gate(got == want, f"list: report {got} != manifests {want}")

    def _remove(self, tracer) -> None:
        from esop_spark.operators import pipelines

        manifests = read_manifest_files(self.manifests_dir)
        victim = min(manifests, key=lambda n: (backup_ts(n), n))
        others = {k for n, objs in manifests.items() if n != victim for k in objs}
        doomed = set(manifests[victim]) - others
        with tracer.span(self.op_name, op="remove"):
            out = pipelines.remove_backup(self.spark, self.bucket, oldest=True)
        left = bucket_objects(self.bucket)
        ok = (out["backups_removed"] == 1 and out["objects_removed"] == len(doomed)
              and not doomed & set(left) and others <= set(left)
              and not os.path.exists(os.path.join(self.manifests_dir, victim + ".json")))
        self.snap_bytes.pop(victim, None)
        self.removed.append(out["objects_removed"])
        self._gate(ok, f"remove {victim}: {out}, want {len(doomed)} objects removed")

    def warmup(self, tracer) -> None:
        """A full backup, then one whole cycle (so every step has run once
        before timing starts)."""
        self._backup(tracer, "snap-0", None)
        self._cycle(tracer)

    def _cycle(self, tracer) -> None:
        self.cycle += 1
        replaced = self.tree.compact(CHURN)
        tag = f"snap-{self.cycle}"
        self.latest_files = self.tree.snapshot(tag)
        self._backup(tracer, tag, replaced)
        self._list(tracer)
        self._remove(tracer)

    def unit(self, tracer) -> None:
        for _ in range(CYCLES_PER_UNIT):
            with tracer.span("round"):
                self._cycle(tracer)

    def finish(self, tracer) -> None:
        """Restore the latest backup into an empty node directory, then
        restore again over the result (the verify-only pass)."""
        from esop_spark.operators import pipelines

        target = os.path.join(self.root, f"restore-{self.cycle}")
        with tracer.span(self.op_name, op="restore"):
            first = pipelines.restore(self.spark, self.bucket, target)
        bad = restore_mismatches(target, self.latest_files)
        self._gate(not bad and first["downloaded"] == len(self.latest_files),
                   f"restore: {len(bad)} files differ from the latest snapshot "
                   f"(e.g. {bad[:3]}), {first['downloaded']} downloaded")
        with tracer.span(self.op_name, op="verify"):
            again = pipelines.restore(self.spark, self.bucket, target)
        self._gate(again == {"downloaded": 0, "deleted": 0},
                   f"verify-only restore changed files: {again}")
        self.restored = first["downloaded"]

    def check(self, cache_dir: str) -> list[str]:
        return self.failures

    def stored_bytes_ratio(self) -> float:
        """Bytes left in the bucket per byte of the snapshots it retains."""
        return dir_bytes(self.bucket) / sum(self.snap_bytes.values())

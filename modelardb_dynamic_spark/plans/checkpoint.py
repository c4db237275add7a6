"""Per-partition lineage checkpoints.

Every pipeline stage commits one manifest per series-hash bucket after that
bucket's output is in place:

    <warehouse>/<table>/_lineage/bucket=<K>.json
    {"bucket": K, "rows": n, "high_water_ts": ms, "input_fingerprint": ...,
     "wall_s": ..., "stage": ..., "committed_utc": ..., "bytes": b,
     "files": f}

The rows and high-water mark come from the bucket's parquet footers (row
counts and the row-group max of the event-time column;
sources/catalog.py:footer_stats), so committing a manifest reads no data;
only files without column statistics (legacy INT96 timestamps) are scanned.
TierPipeline.fsck re-derives both with a Spark scan as the independent
audit.

On restart, buckets whose manifest exists AND whose input fingerprint is
unchanged are skipped, so a killed job resumes mid-tier and re-does at most
one in-flight chunk.

A rewritten bucket directory is installed by swap_in, a rename journal in
the manner of the reference's rename log (storage/FileStorage.scala:176-259):
dst -> dst.old, new -> dst, rm dst.old, then the manifest commit. A crash
at any step leaves the bucket whole in dst or in dst.old, never in neither:
stages that rebuild a bucket from its own rows (append's raw merge, purge,
retain, the rows kept below a retention floor) would otherwise rebuild from
an emptied bucket and commit the loss. recover_swaps, run before the
pipeline reads or rewrites a stage table, restores dst.old when dst is
missing (crash before the install) and drops it when dst is present (crash
after). The resumed stage then
redoes the bucket, whose manifest still carries the old fingerprint; every
such rebuild is idempotent on its own output. On an Iceberg deployment the
swap becomes overwrite-by-filter on the bucket partition and the manifest
doubles as the job's own progress/metrics record.

Durability: neither swap_in nor Lineage.commit calls fsync, so the journal
and the manifests survive a crash of the process (the OS still holds every
completed write and rename), but not a power loss or an OS crash, after
which a rename or a manifest may be lost or reach the disk before the data
it names.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass


def swap_in(src: str | None, dst: str) -> None:
    """Install directory src (None: an empty directory) as dst through the
    rename journal dst -> dst.old, src -> dst, rm dst.old."""
    old = dst + ".old"
    if os.path.exists(dst):
        os.rename(dst, old)
    if src is None:
        os.makedirs(dst)
    else:
        os.rename(src, dst)
    shutil.rmtree(old, ignore_errors=True)


def recover_swaps(root: str) -> None:
    """Finish every swap_in under root that a crash interrupted: restore
    X.old as X when X is missing, else drop the stale X.old."""
    for name in sorted(os.listdir(root)):
        if not name.endswith(".old"):
            continue
        old, dst = os.path.join(root, name), os.path.join(root, name[:-4])
        if os.path.exists(dst):
            shutil.rmtree(old)
        else:
            os.rename(old, dst)


@dataclass
class BucketManifest:
    stage: str
    bucket: int
    rows: int
    high_water_ts: int | None
    input_fingerprint: str
    wall_s: float
    committed_utc: float
    # name of the event-time column high_water_ts was computed from, so
    # audits (fsck) can recompute and compare it without a per-stage
    # schema registry; None on manifests written before this field existed
    ts_col: str | None = None
    # the bucket's parquet part files: total size and count; None on
    # manifests written before these fields existed
    bytes: int | None = None
    files: int | None = None


class Lineage:
    def __init__(self, table_root: str):
        # created by the first commit, so a read-only probe of a stage that
        # was never built leaves no trace (stage detection is by existence)
        self.dir = os.path.join(table_root, "_lineage")

    def _path(self, bucket: int) -> str:
        return os.path.join(self.dir, f"bucket={bucket}.json")

    def get(self, bucket: int) -> BucketManifest | None:
        p = self._path(bucket)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return BucketManifest(**json.load(f))

    def is_done(self, bucket: int, input_fingerprint: str) -> bool:
        m = self.get(bucket)
        return m is not None and m.input_fingerprint == input_fingerprint

    def commit(
        self,
        stage: str,
        bucket: int,
        rows: int,
        high_water_ts: int | None,
        input_fingerprint: str,
        wall_s: float,
        ts_col: str | None = None,
        nbytes: int | None = None,
        files: int | None = None,
    ) -> None:
        m = BucketManifest(
            stage, bucket, rows, high_water_ts, input_fingerprint,
            wall_s, time.time(), ts_col, nbytes, files,
        )
        os.makedirs(self.dir, exist_ok=True)
        tmp = self._path(bucket) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(asdict(m), f)
        os.replace(tmp, self._path(bucket))  # atomic

    def completed_buckets(self) -> list[int]:
        if not os.path.isdir(self.dir):
            return []
        out = []
        for name in os.listdir(self.dir):
            if name.startswith("bucket=") and name.endswith(".json"):
                out.append(int(name[len("bucket=") : -len(".json")]))
        return sorted(out)

    def metrics(self) -> dict:
        ms = [m for m in map(self.get, self.completed_buckets()) if m]

        def total(field: str) -> int | None:
            """Sum over the manifests, None if one predates the field."""
            vals = [getattr(m, field) for m in ms]
            return None if None in vals else sum(vals)

        return {
            "buckets": len(ms),
            "rows": sum(m.rows for m in ms),
            "bytes": total("bytes"),
            "files": total("files"),
            "wall_s": sum(m.wall_s for m in ms),
            "high_water_ts": max(
                (m.high_water_ts for m in ms if m.high_water_ts is not None),
                default=None,
            ),
        }

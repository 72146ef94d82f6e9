"""Read a silver table's on-disk layout from its files alone: the
numbered manifests and the bucket-version directories they name."""

from __future__ import annotations

import json
import os
import re

_MANIFEST = re.compile(r"_manifest\.v(\d+)\.json$")


def manifests(silver: str) -> list[int]:
    if not os.path.isdir(silver):
        return []
    return sorted(int(m.group(1)) for f in os.listdir(silver) if (m := _MANIFEST.match(f)))


def manifest(silver: str, version: int | None = None) -> dict:
    vs = manifests(silver)
    if not vs:
        return {"buckets": {}}
    v = vs[-1] if version is None else version
    with open(os.path.join(silver, f"_manifest.v{v}.json")) as f:
        return json.load(f)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def moved_buckets(before: dict, after: dict) -> list[str]:
    """Buckets whose version directory differs between two manifests."""
    b0, b1 = before.get("buckets", {}), after.get("buckets", {})
    return sorted(b for b in set(b0) | set(b1) if b0.get(b) != b1.get(b))


def bucket_dir(silver: str, bucket: str, ver: str) -> str:
    return os.path.join(silver, "data", f"b{bucket}", ver)


def rewrite_bytes(silver: str, before: dict, after: dict) -> int:
    """Bytes of the bucket versions a commit wrote."""
    return sum(
        dir_bytes(bucket_dir(silver, b, after["buckets"][b]))
        for b in moved_buckets(before, after) if b in after.get("buckets", {})
    )


def space_amp(silver: str) -> float:
    """All bucket-version bytes on disk / bytes the current manifest
    references."""
    m = manifest(silver)
    live = sum(dir_bytes(bucket_dir(silver, b, v)) for b, v in m["buckets"].items())
    return dir_bytes(os.path.join(silver, "data")) / max(live, 1)


def files_per_bucket(silver: str) -> float:
    m = manifest(silver)
    n = 0
    for b, v in m["buckets"].items():
        d = bucket_dir(silver, b, v)
        if os.path.isdir(d):
            n += sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
    return n / max(len(m["buckets"]), 1)

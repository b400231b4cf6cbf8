"""LRU garbage collector for the staging area: every root the engine
stages under (``core.STAGING_ROOT`` for indexes, layouts and the
ingest lifecycle; ``core.SCRATCH_ROOT`` for drained streams).

Staged index artifacts (minhash frames, PPJoin ``jp_*`` layouts, BM25
inverted indexes, k-means codebooks, bucketed join tables, …) accrete
one directory per fixture AND per parameterization
(``jp_docsets_v2_c65536``, ``kmeans_codebook_v1_k…``) with no eviction:
a long session sweeping several scale factors leaks disk without bound.

An *artifact* is any directory carrying a ``_SG_FINGERPRINT`` sidecar
(written by ``core.stamp_staging``).  Its LRU key is the
``_SG_LASTUSE`` sidecar's mtime — bumped by every ``core.read_staged``
/ ``stamp_staging`` — falling back to the fingerprint sidecar's mtime
for artifacts written before the sidecar existed.  Only artifact
directories are ever deleted; anything in the staging area without a
fingerprint (checkpoints, scratch) is left alone unless ``--orphans``
asks for stale-by-age sweep of those too.

Policy, applied in order:
1. ``--max-age-days N``: evict artifacts not used in N days.
2. ``--budget-gb G``: if the remaining artifacts still exceed the byte
   budget, evict least-recently-used first until under it.

Usage::

    python tools/staging_gc.py                      # report only
    python tools/staging_gc.py --base /tmp/sgdata   # one root only
    python tools/staging_gc.py --budget-gb 4        # LRU to 4 GiB
    python tools/staging_gc.py --max-age-days 7 --budget-gb 4
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ingest_sharepoint_file_to_fabric_lakehouse_spark.core import (  # noqa: E402
    SCRATCH_ROOT,
    STAGING_ROOT,
)

FINGERPRINT = "_SG_FINGERPRINT"
LASTUSE = "_SG_LASTUSE"
# the scratch root falls back to the staging root where there is no
# tmpfs; dict.fromkeys keeps one copy, in order
DEFAULT_BASES = tuple(dict.fromkeys((STAGING_ROOT, SCRATCH_ROOT)))


@dataclass
class Artifact:
    path: str
    bytes: int
    lastuse: float  # epoch seconds


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def _bases(base: str | None) -> tuple[str, ...]:
    return DEFAULT_BASES if base is None else (base,)


def scan(base: str | None = None) -> list[Artifact]:
    """Find every staged artifact under ``base`` — by default under
    every staging root (any depth — artifacts live at
    ``<root>/<fixture>/<name>``, but the walk doesn't assume that).  A
    directory with a fingerprint is one atomic unit; the walk does not
    descend into it (nested parquet partition dirs belong to the
    artifact)."""
    found: list[Artifact] = []
    walks = (w for b in _bases(base) for w in os.walk(b))
    for root, dirs, files in walks:
        if FINGERPRINT in files:
            lu = os.path.join(root, LASTUSE)
            try:
                lastuse = os.stat(lu).st_mtime
            except OSError:
                try:
                    lastuse = os.stat(os.path.join(root, FINGERPRINT)).st_mtime
                except OSError:
                    lastuse = 0.0
            found.append(Artifact(root, _dir_bytes(root), lastuse))
            dirs[:] = []  # atomic unit: don't descend
    return sorted(found, key=lambda a: a.lastuse)


def gc(
    base: str | None = None,
    budget_bytes: int | None = None,
    max_age_days: float | None = None,
    dry_run: bool = False,
    now: float | None = None,
) -> dict:
    """Apply the eviction policy; returns a JSON-able report."""
    arts = scan(base)
    now = time.time() if now is None else now
    evict: list[Artifact] = []
    keep: list[Artifact] = list(arts)
    if max_age_days is not None:
        cutoff = now - max_age_days * 86400
        evict += [a for a in keep if a.lastuse < cutoff]
        keep = [a for a in keep if a.lastuse >= cutoff]
    if budget_bytes is not None:
        kept_bytes = sum(a.bytes for a in keep)
        for a in list(keep):  # keep is lastuse-ascending: LRU first
            if kept_bytes <= budget_bytes:
                break
            evict.append(a)
            keep.remove(a)
            kept_bytes -= a.bytes
    for a in evict:
        if not dry_run:
            shutil.rmtree(a.path, ignore_errors=True)
            # a crashed builder's lease files are SIBLINGS of the
            # artifact dir (core.staged_build: `<path>__build__merge_lock`
            # plus .hb/.rel-/.stale- remnants); evicting the artifact
            # should not strand them.  Age-gated past any live lease
            # TTL so an in-flight rebuild's lock is never swept.
            prefix = os.path.basename(a.path.rstrip("/")) + "__build__merge_lock"
            parent = os.path.dirname(a.path.rstrip("/"))
            try:
                for name in os.listdir(parent):
                    if not name.startswith(prefix):
                        continue
                    fp = os.path.join(parent, name)
                    try:
                        if now - os.stat(fp).st_mtime > 3600:
                            os.unlink(fp)
                    except OSError:
                        pass
            except OSError:
                pass
    # prune now-empty fixture dirs so the tree doesn't accrete husks
    if not dry_run:
        for b in _bases(base):
            for root, dirs, files in list(os.walk(b, topdown=False)):
                if root != b and not dirs and not files:
                    try:
                        os.rmdir(root)
                    except OSError:
                        pass
    return {
        "bases": list(_bases(base)),
        "scanned": len(arts),
        "scanned_bytes": sum(a.bytes for a in arts),
        "evicted": [
            {"path": a.path, "bytes": a.bytes, "idle_sec": round(now - a.lastuse)}
            for a in evict
        ],
        "evicted_bytes": sum(a.bytes for a in evict),
        "kept": len(keep),
        "kept_bytes": sum(a.bytes for a in keep),
        "dry_run": dry_run,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", default=None, help="one staging root (default: all of them)")
    ap.add_argument("--budget-gb", type=float, default=None)
    ap.add_argument("--max-age-days", type=float, default=None)
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()
    if not any(os.path.isdir(b) for b in _bases(args.base)):
        print(json.dumps({"bases": list(_bases(args.base)), "scanned": 0, "note": "no staging dir"}))
        return 0
    budget = int(args.budget_gb * (1 << 30)) if args.budget_gb is not None else None
    dry = args.dry_run or (budget is None and args.max_age_days is None)
    report = gc(args.base, budget, args.max_age_days, dry_run=dry)
    if budget is None and args.max_age_days is None:
        report["note"] = "no policy given: report only (pass --budget-gb/--max-age-days)"
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

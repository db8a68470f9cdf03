"""Table-maintenance job for the Iceberg-lite pages table — the
spark-submit surface for the two operations an append-heavy crawl table
needs on a schedule:

    spark-submit --py-files engine.zip jobs/maintain_pages.py \
        --pages-root /data/pages --compact --expire --keep-last 3

--compact rewrites the current snapshot's small append batches into one
file set per partition (a REWRITE snapshot; logical content unchanged,
older snapshots still time-travel). --expire drops all but the newest
--keep-last snapshots and reaps orphaned data directories older than
--orphan-ttl-sec (in-flight appends stay safe). Incremental consumers
whose cursor predates the retained window fail loudly on their next run
and must re-baseline — see assign_pages --incremental.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--pages-root", required=True)
    p.add_argument("--cores", type=int, default=8)
    p.add_argument("--compact", action="store_true")
    p.add_argument("--expire", action="store_true")
    p.add_argument("--keep-last", type=int, default=2)
    p.add_argument("--orphan-ttl-sec", type=float, default=86400.0)
    args = p.parse_args(argv)
    if not (args.compact or args.expire):
        print("nothing to do: pass --compact and/or --expire", file=sys.stderr)
        return 2

    from timezone_boundary_builder_spark.session import get_spark
    from timezone_boundary_builder_spark.sources import pages as pt

    t0 = time.time()
    out: dict = {"root": args.pages_root}

    spark = None
    if args.compact:
        spark = get_spark("tzbb-maintain-pages", cores=args.cores)
        before = len(pt.read_snapshot(args.pages_root)["manifest"])
        sid = pt.compact_data_files(spark, args.pages_root)
        out["compacted_snapshot"] = sid
        out["manifest_entries"] = {
            "before": before,
            "after": len(pt.read_snapshot(args.pages_root)["manifest"]),
        }
        out["rows"] = pt.snapshot_row_count(args.pages_root)

    if args.expire:
        res = pt.expire_snapshots(
            args.pages_root,
            keep_last=args.keep_last,
            orphan_ttl_sec=args.orphan_ttl_sec,
        )
        out["expire"] = {
            "kept": res["kept"],
            "expired": res["expired"],
            "deleted_paths": len(res["deleted_paths"]),
        }

    out["wall_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

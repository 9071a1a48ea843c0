#!/usr/bin/env python
"""Capture `.explain("formatted")` for registry keys into
``<out>/<key>_<tag>.txt`` — before/after physical-plan evidence for a
change.

Usage::

    python tools/capture_plans.py {before,after} --out DIR \
        [--sf-dir DIR] [key ...]

Default keys = bench.py's HEADLINE list. The plans are those of the
checkout this script sits in: for ``before``, copy the script into a
checkout of the parent commit and run it there with ``--out`` pointing
back at this repo's ``plans/<change>/``. ``--sf-dir`` (default
``$SPARK_GRAFT_SF_DIR``) picks the fixture tier.
"""
from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("tag", choices=("before", "after"))
    ap.add_argument("keys", nargs="*",
                    help="registry keys (default: bench.HEADLINE)")
    ap.add_argument("--out", required=True, type=Path,
                    help="directory for <key>_<tag>.txt")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="fixture tier (default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_intermixed_args()
    if not args.sf_dir:
        ap.error("no fixture tier: pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    from blockchain_data_ingestion_spark.queries import load_all

    registry = load_all()
    if args.keys:
        unknown = [k for k in args.keys if k not in registry]
        if unknown:
            ap.error(f"unknown registry keys: {', '.join(unknown)}")
        keys = args.keys
    else:
        import bench
        keys = [k for k in bench.HEADLINE if k in registry]

    from blockchain_data_ingestion_spark.caching import release_all
    from blockchain_data_ingestion_spark.session import get_spark

    spark = get_spark("plan-capture")
    args.out.mkdir(parents=True, exist_ok=True)
    for key in keys:
        df = registry[key].spark(spark, args.sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (args.out / f"{key}_{args.tag}.txt").write_text(buf.getvalue())
        release_all()
        print(f"captured {key}_{args.tag}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

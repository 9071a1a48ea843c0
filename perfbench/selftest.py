#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py            # seed checks, about 5 s
    python3 perfbench/selftest.py --counts   # + three traced runs, ~5 min

1. Seeds: the same seed lands byte-identical block batches and gives the
   same call order; a different seed changes both.
2. ``--counts``: per-key job and stage counts of the ``queries``
   workload repeat exactly across the passes of one traced run and
   across two traced runs of the same seed. It also reports, for the
   streaming keys, how many of their jobs the ``None``-group diff saw
   against the REST job list.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]


def _expect(ok: bool, message: str) -> None:
    if not ok:
        raise SystemExit(f"selftest failed: {message}")


def _landed_digest(seed: int) -> str:
    import datagen
    from workloads import BLOCKS_PER_BATCH

    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
        files, _ = datagen.land_block_batches(Path(d) / "l", seed, 2,
                                              BLOCKS_PER_BATCH)
        h = hashlib.sha256()
        for f in files:
            h.update(f.read_bytes())
        return h.hexdigest()


def check_seeds() -> None:
    from workloads import WORKLOADS, pass_order

    (ROOT / ".bench_build").mkdir(exist_ok=True)
    a, a2, b = _landed_digest(7), _landed_digest(7), _landed_digest(8)
    _expect(a == a2, "same seed landed different block batches")
    _expect(a != b, "different seeds landed identical block batches")
    for wl in WORKLOADS:
        orders = [[pass_order(wl, s, p) for p in range(4)]
                  for s in (7, 7, 8)]
        _expect(orders[0] == orders[1], f"{wl}: same seed, other order")
        _expect(orders[0] != orders[2], f"{wl}: seeds 7 and 8 share order")
    print("seeds: ok")


def _traced_counts(workload: str, seed: int) -> tuple[list[dict], dict]:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, check=True, capture_output=True, text=True).stdout
    report = json.loads(out.splitlines()[-2])["report"]
    result = json.loads(out.splitlines()[-1])
    _expect(result["correct"], f"{workload}: run not correct: {report}")
    _expect(report["counts_exact"],
            f"{workload}: counts differ across passes")
    trace = json.loads((ROOT / report["trace_file"]).read_text())
    return trace["meta"]["counts"], report


def check_counts(seed: int = 5) -> None:
    from workloads import KEYS

    first, _ = _traced_counts("queries", seed)
    second, _ = _traced_counts("queries", seed)
    for key in KEYS["queries"]:
        a = (first[-1][key]["jobs"], first[-1][key]["stages"])
        b = (second[-1][key]["jobs"], second[-1][key]["stages"])
        _expect(a == b, f"{key}: jobs/stages {a} then {b}")
        print(f"queries/{key}: jobs={a[0]} stages={a[1]} (both runs)")
    counts, _ = _traced_counts("ingest_stream", seed)
    for key in KEYS["ingest_stream"]:
        c = counts[-1][key]
        print(f"ingest_stream/{key}: REST jobs={c['jobs']} "
              f"None-group jobs={c['none_group_jobs']}")
    print("counts: ok")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--counts", action="store_true")
    args = ap.parse_args()
    check_seeds()
    if args.counts:
        check_counts()
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark of the engine: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run

1. generates its inputs (the star schema once per checkout under
   ``.bench_build/perfbench/data``; the seed's block batches per run),
2. starts the engine's session on ``local[<nproc>]``, imports the
   registry, touches the catalog and makes untimed warm passes, the
   first of which checks every output against the DuckDB oracle
   (``setup_s`` is the time from process start to the first timed
   call, minus data generation and checking),
3. makes timed passes over the workload's calls in the seed's order for
   ``--seconds`` seconds (three at least), calling
   ``caching.release_all`` after every call outside its timer and
   checking after every pass that no persisted RDD outlives it,
4. prints one report line, then the result as the last line: with
   ``--trace 0`` the end-to-end metrics; with ``--trace 1`` the
   per-layer metrics of a window whose passes alternate untraced and
   traced (spans go to
   ``.bench_build/perfbench/trace-<workload>-<seed>.json``).

It exits non-zero without a result when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
#: Star schema: base scale of the dimensions, FK-offset copies of the
#: fact tables (the ``tools/scale_probe.py`` model), corpus sizes.
BASE_SF, FACT_COPIES, N_DOCS, N_VECS = 0.002, 10, 500, 500
#: Untimed passes before the timed window (the first one checked). With
#: two, the timed passes still sped up by 10-20 % from one to the next.
WARM_PASSES = 3

sys.path[:0] = [str(ROOT), str(HERE)]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _isolate_io(run_dir: Path) -> None:
    """Keep every file the run writes inside the checkout: Spark's
    shuffle dir, the JVM and Python temp dirs, DuckDB's spill."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_LOCAL_DIR": str(run_dir / "spark-local"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_GRAFT_DUCK_MEM": "1GB",
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None


def _sweep_dead_runs() -> None:
    """Remove the scratch dirs of earlier runs whose process is gone
    (a killed run cannot clean up after itself)."""
    for d in BUILD.glob("run-*"):
        pid = d.name[4:]
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(d, ignore_errors=True)


def _git_head() -> str:
    """HEAD commit from ``.git`` in the checkout root, or ``unknown``
    (the benchmark may run from an export that is not a repository)."""
    git = ROOT / ".git"
    try:
        ref = (git / "HEAD").read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        if (git / name).exists():
            return (git / name).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _rss_peak_mb(pids: list[int]) -> float:
    """Sum of the high-water resident sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def _host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: the share of
    time the host ran other tenants on this machine's CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            out.append(int(d))
    return out


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


class Bench:
    """One run: the session, the workload's calls and their records."""

    def __init__(self, args, run_dir: Path):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.run_dir = run_dir
        self.batches: list[Path] = []
        self.expect: dict = {}
        self.batches_done = 0
        self.check_s = 0.0          # time spent checking, not setting up
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    # -- set-up -------------------------------------------------------
    def setup(self, sf_dir: Path) -> None:
        from blockchain_data_ingestion_spark import caching
        from blockchain_data_ingestion_spark.catalog import TABLES, table
        from blockchain_data_ingestion_spark.queries import load_all
        from blockchain_data_ingestion_spark.session import get_spark
        from spans import Counters, Tracer

        self.sf = str(sf_dir)
        self.tracer = Tracer(False)
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self._floor_action()        # JVM warm-up: first job, codegen
        self.layer = {"session.start_s": time.perf_counter() - t}
        t = time.perf_counter()
        self.registry = load_all()
        self.layer["queries.load_all_s"] = time.perf_counter() - t
        t = time.perf_counter()
        from workloads import TABLES as WL_TABLES
        for name in WL_TABLES[self.workload] or TABLES:
            table(self.spark, self.sf, name)
        self.layer["catalog.first_touch_s"] = time.perf_counter() - t
        self.release_all = caching.release_all
        self.counters = Counters(self.spark)
        if self.args.trace:
            self.counters.max_job_id()      # first REST request warms it

    def _floor_action(self) -> float:
        """A trivial one-job action: the engine's per-job floor."""
        t = time.perf_counter()
        self.spark.range(1).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t

    # -- calls ----------------------------------------------------------
    def _call(self, name: str, check: bool) -> float | None:
        """Run one call; return its latency, or None if it raised."""
        from workloads import ingest_batch, module_of

        tr = self.tracer
        t = time.perf_counter()
        try:
            if name == "ingest_batch":
                with tr.span("ingest.batch", batch=self.batches_done):
                    self.batches_done += 1
                    ingest_batch(self.spark,
                                 self.batches[self.batches_done - 1],
                                 self.run_dir / "out")
                return time.perf_counter() - t
            spec = self.registry[name]
            mod = module_of(spec)
            layer = "streaming" if mod == "streaming_q" else "queries"
            with tr.span(f"{layer}.{name}"):
                with tr.span(f"{mod}.build"):
                    df = spec.spark(self.spark, self.sf)
                if not check:
                    with tr.span(f"{mod}.exec"):
                        df.write.mode("overwrite").format("noop").save()
                    return time.perf_counter() - t
                pdf = df.toPandas()
            dt = time.perf_counter() - t
            self._check_key(spec, pdf)
            return dt
        except Exception as exc:  # noqa: BLE001 — a failed call is a result
            self.failed += 1
            self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            return None

    def _check_key(self, spec, pdf) -> None:
        from tests.oracle import compare_frames, run_oracle

        t = time.perf_counter()
        if spec.oracle is not None:
            diff = compare_frames(pdf, run_oracle(self.sf, spec.oracle))
            if diff is not None:
                self.failed += 1
                self.errors.append(f"{spec.key}: output differs: {diff}"
                                   [:300])
        self.check_s += time.perf_counter() - t

    def _release(self) -> tuple[int, float]:
        t = time.perf_counter()
        with self.tracer.span("caching.release"):
            n = self.release_all()
        return n, time.perf_counter() - t

    def _persisted(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # -- passes ---------------------------------------------------------
    def warm_up(self, passes: int) -> None:
        """Untimed warm passes. The first checks every call's output;
        the others take the timed path (the noop sink), whose code is
        still cold after a collecting pass: without them the first
        timed pass ran 25-30 % slower than the ones after it."""
        from workloads import pass_order

        self.warm_calls = {}
        for name in pass_order(self.workload, self.seed, 0):
            self.attempted += 1
            self.warm_calls[name] = self._call(
                name, check=name != "ingest_batch")
            self._release()
        # Session-scoped shared frames built by the first warm pass may stay;
        # anything persisted beyond them after a pass is a leak.
        self.baseline_rdds = self._persisted()
        for i in range(1, passes):
            self.timed_pass(-i)

    def timed_pass(self, pass_no: int) -> dict:
        """One pass over the workload's calls in the seed's order."""
        from workloads import pass_order

        tr = self.tracer
        rec = {"pass_no": pass_no, "batch": self.batches_done,
               "trace": tr.new_trace(), "traced": tr.enabled, "calls": [],
               "released": 0, "release_s": 0.0, "counts": {}}
        t = time.perf_counter()
        with tr.span("bench.pass", pass_no=pass_no):
            for name in pass_order(self.workload, self.seed, pass_no):
                if tr.enabled:
                    before = (self.counters.none_group_jobs(),
                              self.counters.max_job_id())
                self.attempted += 1
                dt = self._call(name, check=False)
                if dt is not None:
                    rec["calls"].append((name, dt))
                n, rs = self._release()
                rec["released"] += n
                rec["release_s"] += rs
                if tr.enabled:
                    rec["counts"][name] = self.counters.measure(*before)
        rec["pass_s"] = time.perf_counter() - t
        leaked = self._persisted() - self.baseline_rdds
        if leaked:
            self.failed += 1
            self.errors.append(f"pass {pass_no}: {len(leaked)} persisted "
                               f"RDD(s) outlive the pass")
        return rec

    def _input_left(self) -> bool:
        """Whether another pass has a landed batch to ingest."""
        return (self.workload != "ingest_stream"
                or self.batches_done < len(self.batches))

    def timed_window(self, min_passes: int, seconds: float,
                     alternate: bool = False) -> list[dict]:
        """Whole passes for about ``seconds``: a pass starts only while
        the previous pass's length still fits, and at least
        ``min_passes`` are made. With ``alternate``, every other pass is
        traced (untraced first), so traced and untraced passes see the
        same warmth. The job floor is timed between passes, outside
        them."""
        passes: list[dict] = []
        self.floors: list[float] = []
        t0 = time.perf_counter()
        while len(passes) < min_passes or (
                time.perf_counter() - t0 + passes[-1]["pass_s"] <= seconds
                and self._input_left()):
            if alternate:
                self.tracer.enabled = len(passes) % 2 == 1
            passes.append(self.timed_pass(1 + len(passes)))
            with self.tracer.span("session.job_floor"):
                self.floors.append(self._floor_action())
        return passes


def _median_pass(passes: list[dict]) -> float:
    """The median pass, call by call: the sum over the workload's calls
    of each call's median latency across the passes. A host hiccup
    that stalls one call of one pass moves it less than it moves that
    pass's wall time."""
    lat: dict[str, list[float]] = {}
    for r in passes:
        for name, dt in r["calls"]:
            lat.setdefault(name, []).append(dt)
    return sum(statistics.median(v) for v in lat.values())


def _end_to_end(passes: list[dict], setup_s: float, pids: list[int]
                ) -> dict:
    # Per-call latency percentiles are not end-to-end metrics: a run
    # times 9-24 calls of 3-6 different keys, so no percentile has ten
    # samples beyond it, and the median flips between neighbouring keys
    # (its run-to-run spread exceeded the bound). Per-key medians are in
    # the report line instead.
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (_median_pass(passes), "s"),
        "peak_rss_mb": (_rss_peak_mb(pids), "MB"),
    }


def _per_layer(b: Bench, untraced_pass_s: float, traced: list[dict],
               n_events: int) -> dict:
    from blockchain_data_ingestion_spark.streaming.jobs import STATE_METRICS
    from workloads import KEYS, MODULES, STREAM_QUERY, module_of

    med = statistics.median
    spans = b.tracer.spans

    def span_s(r: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans
                   if s["trace"] == r["trace"] and s["name"] == name)

    def count_sum(r: dict, field: str, keys) -> float:
        return sum(c[field] for k, c in r["counts"].items() if k in keys)

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (b.layer["session.start_s"], "s"),
        "session.job_floor_s": (med(b.floors), "s"),
        "catalog.first_touch_s": (b.layer["catalog.first_touch_s"], "s"),
        "catalog.input_bytes": (
            med(count_sum(r, "input_bytes", r["counts"]) for r in traced),
            "bytes"),
    }
    for key in KEYS["queries"]:
        last = traced[-1]["counts"].get(key, {})
        for f, unit in (("jobs", "count"), ("stages", "count"),
                        ("shuffle_bytes", "bytes")):
            m[f"queries.{key}.{f}"] = (last.get(f, 0), unit)
    for mod in MODULES:
        keys = {k for k in KEYS[b.workload] if k in b.registry
                and module_of(b.registry[k]) == mod}
        m[f"{mod}.build_s"] = (med(span_s(r, f"{mod}.build")
                                   for r in traced), "s")
        m[f"{mod}.exec_s"] = (med(span_s(r, f"{mod}.exec") for r in traced),
                              "s")
        m[f"{mod}.cpu_s"] = (med(count_sum(r, "cpu_s", keys)
                                 for r in traced), "s")
        m[f"{mod}.spill_bytes"] = (med(count_sum(r, "spill_bytes", keys)
                                       for r in traced), "bytes")
    m["caching.frames_released"] = (med(r["released"] for r in traced),
                                    "count")
    m["caching.release_s"] = (med(r["release_s"] for r in traced), "s")
    m["caching.cached_bytes_after"] = (b.counters.cached_bytes(), "bytes")

    ing = [(dict(r["calls"])["ingest_batch"], r["counts"]["ingest_batch"],
            r["batch"]) for r in traced
           if "ingest_batch" in dict(r["calls"])]
    out = b.run_dir / "out"
    files = list(out.rglob("*.parquet")) if out.exists() else []
    done = b.batches[:b.batches_done]
    m["ingest.write_s"] = (med(dt for dt, _, _ in ing) if ing else 0.0, "s")
    m["ingest.landing_scans"] = (
        med(c["input_scans"] for _, c, _ in ing) if ing else 0, "count")
    m["ingest.files_written"] = (len(files) / len(done) if ing else 0.0,
                                 "count")
    m["ingest.bytes_out_per_byte_in"] = (
        sum(f.stat().st_size for f in files)
        / sum(p.stat().st_size for p in done) if ing else 0.0, "ratio")
    m["ingest.blocks_per_s"] = (
        med(b.expect["blocks"][p] / dt for dt, _, p in ing)
        if ing else 0.0, "1/s")

    drain_total = 0.0
    for key in KEYS["ingest_stream"]:
        drains = [s["end"] - s["start"] for s in spans
                  if s["name"] == "streaming_q.build"
                  and spans[s["parent"]]["name"] == f"streaming.{key}"]
        drain_total += sum(drains)
        state = STATE_METRICS.get(STREAM_QUERY[key], [])
        m[f"streaming.{key}.drain_s"] = (med(drains) if drains else 0.0, "s")
        m[f"streaming.{key}.state_rows_peak"] = (
            sum(o["peakNumRowsTotal"] for o in state), "count")
        m[f"streaming.{key}.state_bytes_peak"] = (
            sum(o["peakMemoryUsedBytes"] for o in state), "bytes")
    m["streaming.jobs"] = (med(count_sum(r, "jobs", STREAM_QUERY)
                               for r in traced), "count")
    streamed = n_events * len(KEYS["ingest_stream"]) * len(traced)
    m["streaming.events_per_s"] = (
        streamed / drain_total if b.workload == "ingest_stream" else 0.0,
        "1/s")

    selft = b.tracer.self_times()
    for layer in ("bench", "queries", "caching", "ingest", "streaming",
                  "session"):
        m[f"{layer}.self_s"] = (selft.get(layer, 0.0) / len(traced), "s")
    m["trace.overhead_frac"] = (
        med(r["pass_s"] for r in traced) / untraced_pass_s - 1, "ratio")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "blockchain_data_ingestion_spark").is_dir():
        print("perfbench: engine package blockchain_data_ingestion_spark "
              "not found next to perfbench/", file=sys.stderr)
        return 2
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected "
              f"one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    import datagen

    _sweep_dead_runs()
    run_dir = BUILD / f"run-{os.getpid()}"
    _isolate_io(run_dir)
    t = time.perf_counter()
    sf_dir = datagen.star_schema(
        BUILD / "data" / f"star-{BASE_SF}-x{FACT_COPIES}-{N_DOCS}-{N_VECS}",
        BASE_SF, FACT_COPIES, N_DOCS, N_VECS)
    b = Bench(args, run_dir)
    if args.workload == "ingest_stream":
        b.batches, b.expect = datagen.land_block_batches(
            run_dir / "landing", args.seed,
            WARM_PASSES + workloads.MAX_INGEST_PASSES,
            workloads.BLOCKS_PER_BATCH)
    datagen_s = time.perf_counter() - t

    try:
        b.setup(sf_dir)
        b.warm_up(WARM_PASSES)
        setup_s = (time.perf_counter() - T_START) - datagen_s - b.check_s
        pids = [os.getpid()] + _children(os.getpid())
        # Untraced runs make at least three passes, so pass_s is a
        # median even when the host is slow. Traced runs alternate
        # untraced and traced passes, at least two of each: the
        # untraced ones are the overhead baseline, and two traced ones
        # let counts be compared for exact repetition.
        ticks0 = _host_ticks()
        passes = (b.timed_window(4, args.seconds, alternate=True)
                  if args.trace else b.timed_window(3, args.seconds))
        steal, total = (a - z for a, z in zip(_host_ticks(), ticks0))
        if args.workload == "ingest_stream":
            b.attempted += 1
            err = workloads.check_backfill(run_dir / "out", b.expect,
                                           b.batches_done)
            if err:
                b.failed += 1
                b.errors.append(f"backfill: {err}")
        counts_exact = None
        if args.trace:
            import pyarrow.parquet as pq
            traced = [r for r in passes if r["traced"]]
            sig = [{k: (c["jobs"], c["stages"])
                    for k, c in r["counts"].items()} for r in traced]
            counts_exact = all(s == sig[0] for s in sig)
            n_events = pq.ParquetFile(sf_dir / "events.parquet") \
                .metadata.num_rows
            untraced_pass_s = statistics.median(
                r["pass_s"] for r in passes if not r["traced"])
            metrics = _per_layer(b, untraced_pass_s, traced, n_events)
        else:
            metrics = _end_to_end(passes, setup_s, pids)
        jvm_gc_s = b.counters.gc_s()
    finally:
        _shutdown(b)
        shutil.rmtree(run_dir, ignore_errors=True)

    import pyspark
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": _nproc(), "pyspark": pyspark.__version__,
        "git_head": _git_head(), "datagen_s": round(datagen_s, 3),
        "check_s": round(b.check_s, 3),
        "setup_parts": {k: round(v, 3) for k, v in
                        dict(b.layer, **b.warm_calls).items() if v},
        "passes": len(passes),
        "pass_s_each": [round(r["pass_s"], 3) for r in passes],
        "host_steal_frac": round(steal / max(total, 1), 3),
        "call_samples": sum(len(r["calls"]) for r in passes),
        "call_median_s": {k: round(statistics.median(
            dt for r in passes for n, dt in r["calls"] if n == k), 4)
            for k in dict(passes[0]["calls"])},
        "jvm_gc_s": jvm_gc_s,
        "failed_frac": b.failed / max(b.attempted, 1),
        "counts_exact": counts_exact, "errors": b.errors[:10],
    }
    if args.trace:
        trace_path = BUILD / f"trace-{args.workload}-{args.seed}.json"
        b.tracer.dump(trace_path, dict(
            report, counts=[r["counts"] for r in passes if r["traced"]]))
        report["trace_file"] = str(trace_path.relative_to(ROOT))
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _shutdown(b: Bench) -> None:
    """Stop the session, then wait for the JVM and every process it
    started (Python workers) to exit."""
    if b.spark is None:
        return
    kids = _descendants(os.getpid())
    gw = b.spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    b.spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate to kill below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


if __name__ == "__main__":
    sys.exit(main())

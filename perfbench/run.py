#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ai_update --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, recorded by spans around the calls into
the program (see ``perfbench/README.md``).

Generated inputs are cached per (workload, seed, size) under
``.perfbench/cache`` (override with ``$PERFBENCH_CACHE``); everything
else a run writes lives under ``.perfbench/run-<pid>`` and is removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# input size per workload: records one pass processes
SIZES = {"ai_update": 16_000, "curate_neardup": 12_000, "semdedup_daily": 10_000}
# setup_s is the median of SETUPS set-ups (session start, the first one
# launching the JVM, plus program-side set-up). On 4 cores a JVM's pass
# times keep falling for about three passes after the first
# (ai_update: 20.4, 8.2, 6.9, 6.2, 6.2, 6.1 s), so WARM_PASSES untimed
# passes run before the timed ones.
SETUPS = 5
WARM_PASSES = 3
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "out_bytes_per_record": "B",
}
PER_LAYER = {
    "sources.read_s": "s", "sources.bytes_read": "B",
    "dedup.snapshot_s": "s", "dedup.snapshot_shuffle_bytes": "B",
    "dedup.groupcover_s": "s", "dedup.groupcover_shuffle_bytes": "B",
    "dedup.groupcover_spill_bytes": "B",
    "normalize.build_s": "s", "normalize.exec_s": "s",
    "licensing.build_s": "s", "licensing.exec_s": "s",
    "licensing.jobs": "count", "licensing.kept_ratio": "ratio",
    "joins.update_labels_s": "s", "export.solr_export_s": "s",
    "pipeline.write_s": "s", "pipeline.bytes_written": "B", "pipeline.files_written": "count",
    "text.quality_s": "s", "curation.sample_s": "s",
    "neardup.shingle_s": "s", "neardup.candidates_s": "s", "neardup.jaccard_s": "s",
    "neardup.cc_s": "s", "neardup.cc_jobs": "count",
    "neardup.candidate_pairs": "count", "neardup.verified_pairs": "count",
    "neardup.useful_ratio": "ratio",
    "vectors.admit_s": "s", "vectors.dropped_rows": "count", "vectors.append_s": "s",
    "vectors.search_s": "s", "vectors.search_bytes_read": "B",
    "vectors.search_read_share": "ratio", "vectors.search_recall": "ratio",
    "layout.compact_s": "s", "layout.bytes_rewritten": "B", "layout.index_files": "count",
    "layout.bytes_per_vector": "B",
    "plan.build_s": "s", "plan.plan_s": "s", "plan.exec_s": "s",
    "plan.exchanges": "count", "plan.sort_aggregates": "count", "plan.bnlj": "count",
    "plan.python_nodes": "count",
    "memo.entries": "count", "memo.hit_ratio": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_bytes": "B", "spark.spill_bytes": "B", "spark.gc_s": "s",
    "trace.overhead_s": "s", "trace.jobs_attributed_ratio": "ratio",
    "peak_rss_mb": "MB",
}
# every figure a run prints: the metrics above plus semdedup_daily's extras
UNITS = {**END_TO_END, **PER_LAYER, "search_s": "s", "search_recall": "ratio",
         "index_bytes_per_vector": "B"}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


# The driver heap. get_spark defaults to 16g, more than many hosts have
# (4 cores and 15 GB here); the inputs need far less.
DRIVER_MEMORY = "4g"


# -- resident memory of the JVM and its Python workers ----------------------

def _tree(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def reset_peak_rss(pid: int) -> None:
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pid: int) -> float:
    total = 0
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                total += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total / 1024.0


# -- memo counting (traced run only) -----------------------------------------

class MemoCounter:
    """Wraps ``siskin_spark.memo.memo`` to count calls and cache hits."""

    def __init__(self):
        import siskin_spark.memo as memo_mod

        self.mod, self.orig = memo_mod, memo_mod.memo
        self.calls = self.misses = 0

        def counted(key, build, evict_prefix=None):
            self.calls += 1

            def counted_build():
                self.misses += 1
                return build()

            return self.orig(key, counted_build, evict_prefix=evict_prefix)

        memo_mod.memo = counted

    def snapshot(self) -> tuple[int, int]:
        return self.calls, self.misses

    def close(self) -> None:
        self.mod.memo = self.orig


# -- the run -------------------------------------------------------------------

def start_session(work: str, cpus: int):
    from siskin_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def run(args) -> dict:
    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    cpus = host_cpus()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEMORY)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    base = os.path.join(ROOT, ".perfbench")
    cache = os.environ.get("PERFBENCH_CACHE", os.path.join(base, "cache"))
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(cache, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no perf-data file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )

    wl = WORKLOADS[args.workload](args.size or SIZES[args.workload])
    # inputs and their expectations are made while the first session
    # launches the JVM; the first set-up waits for them before the
    # program-side set-up (set-ups after the first are restarts)
    gen_errors: list[Exception] = []

    def generate() -> None:
        try:
            wl.generate(cache, args.seed)
        except Exception as exc:  # re-raised in the main thread
            gen_errors.append(exc)

    generator = threading.Thread(target=generate, name="perfbench-inputs")
    generator.start()

    spark = None
    attempted = failed = 0
    failures: list[str] = []

    def checked(out) -> bool:
        nonlocal attempted, failed
        attempted += 1
        errs = wl.check(out)
        if errs:
            failed += 1
            failures.extend(errs)
        return not errs

    memo = MemoCounter() if args.trace else None
    try:
        setup_times = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, cpus)
            if i == 0:
                generator.join()
                if gen_errors:
                    raise gen_errors[0]
                print(f"workload={wl.name} seed={args.seed} records={wl.records} "
                      f"cpus={cpus} driver_memory={os.environ['SPARK_GRAFT_DRIVER_MEM']}",
                      flush=True)
            wl.setup(spark, work)
            setup_times.append(time.perf_counter() - t0)
        warm_times = []
        for i in range(WARM_PASSES):
            t0 = time.perf_counter()
            out = wl.run_pass(spark, Tracer(None, enabled=False), -1 - i)
            warm_times.append(time.perf_counter() - t0)
            checked(out)

        jvm = spark.sparkContext._gateway.proc.pid
        tracer = Tracer(spark, enabled=False)
        times = {True: [], False: []}
        rss_peaks = []
        passes = []
        memo_before = memo.snapshot() if memo else (0, 0)
        start = time.perf_counter()
        n = 0
        # a traced run alternates untraced and traced passes, MIN_PASSES of each
        min_passes = MIN_PASSES * (2 if args.trace else 1)
        while n < min_passes or time.perf_counter() - start < args.seconds:
            traced = bool(args.trace) and n % 2 == 1
            tracer.enabled = traced
            reset_peak_rss(jvm)
            tracer.begin_pass(n)
            t0 = time.perf_counter()
            out = wl.run_pass(spark, tracer, n)
            dt = time.perf_counter() - t0
            rss = peak_rss_mb(jvm)
            stats = tracer.end_pass()
            if checked(out):
                times[traced].append(dt)
                passes.append((n, traced, dt, stats))
                if not traced:
                    rss_peaks.append(rss)
            n += 1
        memo_after = memo.snapshot() if memo else (0, 0)

        if failed:
            print("FAILED: " + "; ".join(failures[:5]), flush=True)
        # a run with no checked pass reports zeros beside correct=false
        pass_s = statistics.median(times[False]) if times[False] else float("inf")
        e2e = {
            "setup_s": statistics.median(setup_times),
            "records_per_s": wl.records / pass_s,
            **wl.pass_metrics(),
            "peak_rss_mb": statistics.median(rss_peaks) if rss_peaks else 0.0,
        }
        print(f"passes={len(times[False])} pass_s={pass_s:.4f} "
              f"pass_times={[round(p[2], 3) for p in passes]} "
              f"setups={[round(s, 3) for s in setup_times]} "
              f"warm_passes={[round(s, 3) for s in warm_times]} "
              f"failed_frac={failed / attempted:.4f}", flush=True)
        for k, v in e2e.items():
            print(f"  {k} = {v:.6g} {UNITS[k]}", flush=True)
        if not args.trace:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            rows = []
            for n_, traced, dt, stats in passes:
                if not traced:
                    continue
                row = dict(stats)
                row.update(wl.layer_metrics(tracer.self_times(n_), tracer.span_sums(n_), n_))
                rows.append(row)
            layer = {k: statistics.median(r.get(k, 0.0) for r in rows) if rows else 0.0
                     for k in PER_LAYER}
            calls = memo_after[0] - memo_before[0]
            hits = calls - (memo_after[1] - memo_before[1])
            import siskin_spark.memo as memo_mod

            layer["memo.entries"] = len(memo_mod._CACHE)
            layer["memo.hit_ratio"] = hits / calls if calls else 0.0
            layer["peak_rss_mb"] = e2e["peak_rss_mb"]
            layer["trace.overhead_s"] = (
                statistics.median(times[True]) - pass_s if times[True] and times[False] else 0.0
            )
            if "search_recall" in e2e:
                layer["vectors.search_recall"] = e2e["search_recall"]
                layer["layout.bytes_per_vector"] = e2e["index_bytes_per_vector"]
            metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
            spans_path = os.path.join(base, f"spans-{wl.name}-s{args.seed}.json")
            with open(spans_path, "w") as fh:
                json.dump(tracer.spans, fh)
            print(f"spans written to {spans_path}", flush=True)
    finally:
        generator.join()
        if memo:
            memo.close()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=0, help="input records (default per workload)")
    args = p.parse_args(argv)
    # import the benchmark as the ``perfbench`` package, never its
    # modules by bare name from the script directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [x for x in sys.path if os.path.abspath(x or ".") != here]
    try:
        import pyspark  # noqa: F401

        import siskin_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

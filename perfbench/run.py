"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload raster --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run starts a local Spark session on
half the host's cores (heap and cores fitted to the host), builds the
workload's seeded inputs (or loads them, cached by seed and size), runs an
untimed warm-up pass over the workload's operation list, then timed passes for
``--seconds`` — one client, one operation at a time — and checks every
result against an oracle that does not use the timed path.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (BENCHMARK.json lists both), and writes the spans, their
self times and the per-operation Spark counters to
``.bench_build/perfbench/traces/``. In a traced run the timed passes
alternate traced and untraced, so the tracing overhead is measured within
the run.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the full record (host facts, settings, per-operation samples).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import host
import inputs
import oracles
import workloads
from tracing import SparkCounters, Tracer

T_IMPORTED = time.perf_counter()

SIZE_NAME = "full"
# Untimed passes before the timed ones, and the fewest timed passes: the
# first timed pass still runs slower while the JVM compiles hot code, and
# a median of three leaves it out.
WARM_PASSES = 1
MIN_TIMED_PASSES = 3
# Part of the oracle cache key: bump when the cached answers change shape.
ORACLE_VERSION = 2
# Pass number of the text operators run once after a traced ingest run's
# passes (outside every median).
PROBE_PASS = -1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(inputs.SIZES), default=SIZE_NAME)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt one expected answer")
    return ap.parse_args(argv)


def warm_workers(spark, cpus: int, modules: tuple[str, ...]) -> None:
    """One task per core through a pandas UDF: boots the Python daemon and
    every worker, with pandas, pyarrow and the workload's modules
    imported."""
    def load(batches):
        import importlib

        for m in modules:
            importlib.import_module(m)
        yield from batches

    spark.range(0, cpus * 4, numPartitions=cpus).mapInPandas(
        load, "id long").count()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_s(work: float, seconds: float) -> float:
    """Work per second; 0 when no passing sample timed the work."""
    return work / seconds if seconds > 0 else 0.0


def expected(workload: str, seed: int, size: inputs.Size, meta: dict) -> dict:
    """The oracle's answers, cached by workload, seed and input sizes."""
    key = hashlib.sha1(repr((ORACLE_VERSION, size)).encode()).hexdigest()[:12]
    path = os.path.join(host.WORK, "oracles", f"{workload}-{seed}-{key}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)

    def compute() -> dict:
        if workload == "ingest":
            counts = oracles.polygon_counts(inputs.page_texts(meta["dir"]))
            vecs = inputs.embeddings(seed, size.pages // 20)
            return {"counts": counts, "rows": sum(counts.values()),
                    "text_pages": int((inputs.page_ids(seed, size.pages)
                                       % workloads.TEXT_EVERY == 0).sum()),
                    "near_dup_pairs": oracles.near_dup_pairs(vecs)}
        return oracles.raster_expected(seed, meta)

    return oracles.cached(path, compute)


def corrupt(want: dict) -> dict:
    """A deliberately wrong expected answer (self-test only)."""
    bad = json.loads(json.dumps(want))
    if "counts" in bad:
        bad["counts"]["P_bogus"] = 1
        bad["rows"] += 1
    else:
        first = next(iter(bad["focal_stats"]))
        bad["focal_stats"][first][0] += 1
    return bad


KERNEL_METRICS = (
    ("functions.extract_batch.rows_per_s", "rows/s"),
    ("functions.cells.latlon_to_cell.rows_per_s", "rows/s"),
    ("functions.pip.points_in_polygon.points_per_s", "points/s"),
    ("functions.geotiff.read_geotiff.bytes_per_s.none", "B/s"),
    ("functions.geotiff.read_geotiff.bytes_per_s.packbits", "B/s"),
    ("functions.geotiff.read_geotiff.bytes_per_s.deflate", "B/s"),
    ("functions.transforms.sample_indices.points_per_s", "points/s"),
)
SPARK_COUNTERS = (
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("spill.disk_bytes", "bytes"), ("gc_s", "s"),
    ("python.boot_s", "s"), ("python.init_s", "s"), ("python.total_s", "s"),
    ("python.sent_bytes", "bytes"), ("python.recv_bytes", "bytes"),
    ("codegen.pipeline_s", "s"),
)
TEXT_LAYERS = (
    ("minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
    ("exact_substring_dedup", "operators.dedup.exact_substring_dedup"),
    ("bpe_encode_counts", "operators.bpe.bpe_encode_counts"),
    ("rep_signals_frame", "queries_textdata.rep_signals_frame"),
    ("chunk_dedup_frame", "queries_textdata.chunk_dedup_frame"),
    ("lsh_near_dup_pairs", "operators.similarity.lsh_near_dup_pairs"),
)
TEXT_COUNTERS = (
    ("tasks", "count"), ("shuffle.write_bytes", "bytes"),
    ("spill.disk_bytes", "bytes"), ("python.total_s", "s"),
)
CHECKPOINT_NOTES = (
    ("write_jobs", "count"), ("buckets", "count"), ("bytes_written", "bytes"),
    ("resume_redone_frac", "ratio"),
)


class Runner:
    def __init__(self, args, launch: dict):
        self.args = args
        self.launch = launch
        self.cpus = launch["cpus"]
        self.tag = f"{args.workload}-{args.seed}-{args.size}"
        self.run_id = f"{self.tag}-{int(time.time() * 1000)}"
        self.tracer = Tracer(self.run_id, enabled=False)
        self.spark = None
        self.setup_s: dict = {}
        # Wall time of each phase of the run (for sizing run_seconds), and
        # the share of CPU time the hypervisor stole during the timed passes.
        self.phases: dict[str, float] = {}
        self.samples: list[dict] = []

    # -- set-up ---------------------------------------------------------------

    def start_session(self) -> None:
        from geotiff_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               master=self.launch["master"],
                               extra=self.launch["conf"])
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid

    def setup(self) -> dict:
        """Session start (launches the JVM and pre-touches the pinned
        heap), building or loading the cached seeded inputs, and the
        Python worker warm-up."""
        size = inputs.SIZES[self.args.size]
        wl = workloads.WORKLOADS[self.args.workload]
        t0 = time.perf_counter()
        self.start_session()
        t1 = time.perf_counter()
        meta = inputs.build(self.args.workload, self.args.seed, size,
                            os.path.join(host.WORK, "inputs", self.tag),
                            files=2 * self.cpus)
        t2 = time.perf_counter()
        warm_workers(self.spark, self.cpus, wl["modules"])
        t3 = time.perf_counter()
        self.setup_s = {"start_s": t1 - t0, "inputs_s": t2 - t1,
                        "warm_s": t3 - t2, "total_s": t3 - t0,
                        "inputs_cached": meta["cached"]}
        meta["target_rows"] = max(size.pages // 8, 1)
        return meta

    # -- measurement ----------------------------------------------------------

    def run_op(self, ctx, counters, name, fn, pass_no, traced, want) -> None:
        ctx.timings, ctx.notes = {}, {}
        sc = self.spark.sparkContext
        group = f"{self.run_id}/{pass_no}/{name}"
        mark = counters.sql_mark() if traced else 0
        if traced:
            sc.setJobGroup(group, name)
        self.tracer.enabled = traced
        err = got = None
        cpu0 = host.tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{name}", op=name, pass_no=pass_no) as sp:
            try:
                got = fn(ctx)
            except Exception:
                err = traceback.format_exc()
        wall = time.perf_counter() - t0
        cpu = host.tree_cpu_s(self.jvm_pid) - cpu0
        self.tracer.enabled = False
        ok = False
        if err is None:
            try:
                ok = workloads.check(self.args.workload, ctx, name, got, want)
            except Exception:
                err = traceback.format_exc()
        ctx.sweep()
        if err:
            print(f"perfbench: {name} failed:\n{err}", file=sys.stderr)
        elif not ok:
            print(f"perfbench: {name} result does not match its oracle",
                  file=sys.stderr)
        sample = {"op": name, "pass": pass_no, "traced": traced,
                  "wall_s": wall, "cpu_s": cpu, "ok": ok, "timings": dict(ctx.timings),
                  "notes": dict(ctx.notes)}
        if traced:
            self.tracer.enabled = True
            sample["counters"] = counters.collect(group, mark, self.tracer,
                                                  sp["id"])
            self.tracer.enabled = False
            sc.setJobGroup("perfbench-untraced", "")
        self.samples.append(sample)

    def measure(self, ctx, want, sampler) -> None:
        """WARM_PASSES untimed passes let the JIT, plans and caches settle;
        timed passes follow until --seconds have passed, at least
        MIN_TIMED_PASSES (a traced run alternates traced and untraced
        passes)."""
        ops = workloads.WORKLOADS[self.args.workload]["ops"]
        counters = SparkCounters(self.spark)
        min_passes = WARM_PASSES + MIN_TIMED_PASSES
        pass_no, t_end = 0, None
        t0 = time.perf_counter()
        while pass_no < min_passes or time.perf_counter() < t_end:
            sampler.armed = pass_no >= WARM_PASSES
            traced = (bool(self.args.trace) and pass_no >= WARM_PASSES
                      and (pass_no - WARM_PASSES) % 2 == 0)
            for name, fn in ops:
                self.run_op(ctx, counters, name, fn, pass_no, traced, want)
            pass_no += 1
            if pass_no == WARM_PASSES:
                t_end = time.perf_counter() + self.args.seconds
                self.phases["warm_s"] = time.perf_counter() - t0
                steal0, total0 = host.cpu_jiffies()
        sampler.armed = False
        self.phases["timed_s"] = (time.perf_counter() - t0
                                  - self.phases["warm_s"])
        steal1, total1 = host.cpu_jiffies()
        self.phases["timed_steal_frac"] = ((steal1 - steal0)
                                           / max(total1 - total0, 1))
        if self.args.trace and self.args.workload == "ingest":
            for name, fn in workloads.TEXT_OPS:
                self.run_op(ctx, counters, name, fn, PROBE_PASS, True, want)

    # -- reporting ------------------------------------------------------------

    def ops(self) -> list[str]:
        return [n for n, _ in workloads.WORKLOADS[self.args.workload]["ops"]]

    def op_median(self, op: str, value, traced: bool | None = None) -> float:
        """Median over the op's passing samples of value(sample)."""
        vals = [value(s) for s in self.samples
                if s["op"] == op and s["ok"] and s["pass"] >= WARM_PASSES
                and (traced is None or s["traced"] == traced)]
        return median([v for v in vals if v is not None])

    def summed(self, value, traced: bool | None = None) -> float:
        """One pass's worth: the per-op medians, summed over the ops."""
        return sum(self.op_median(op, value, traced) for op in self.ops())

    def wall(self, traced: bool | None = None) -> float:
        return self.summed(lambda s: s["wall_s"], traced)

    def end_to_end(self, peak_mem: int) -> dict:
        return {
            "setup_s": (self.setup_s["total_s"], "s"),
            "cpu_s": (self.summed(lambda s: s["cpu_s"]), "s"),
            "peak_mem_mb": (peak_mem / (1 << 20), "MB"),
        }

    def per_layer(self, extra: dict) -> dict:
        wl = self.args.workload
        size = inputs.SIZES[self.args.size]
        pages = wl == "ingest"
        raster = wl == "raster"

        def counter(key):
            return self.summed(lambda s: s["counters"].get(key), traced=True)

        def timing(layer):
            return self.summed(lambda s: s["timings"].get(layer), traced=True)

        def note(key, traced=True):
            return self.summed(lambda s: s["notes"].get(key), traced)

        def op_wall(op):
            return self.op_median(op, lambda s: s["wall_s"], traced=False)

        def op_counter(op, key):
            return self.op_median(op, lambda s: s["counters"][key],
                                  traced=True)

        def python_s(layer):
            return counter(f"python_s:{layer}")

        attempted = len(self.samples)
        failed = sum(not s["ok"] for s in self.samples)
        traced_wall = self.wall(traced=True)
        run_s = counter("run_s")
        m = {
            "wall_s": (self.wall(traced=False), "s"),
            "session.start_s": (self.setup_s["start_s"], "s"),
            "session.worker_warm_s": (self.setup_s["warm_s"], "s"),
            "inputs.build_s": (self.setup_s["inputs_s"], "s"),
            "warmup_pass_s": (sum(s["wall_s"] for s in self.samples
                                  if s["pass"] == 0), "s"),
            "trace.overhead_s": (traced_wall - self.wall(traced=False), "s"),
            "ops_failed_frac": (failed / attempted, "ratio"),
            "pages_per_s": (per_s(size.pages, op_wall("fused_pages_pip"))
                            if pages else 0.0, "pages/s"),
            "pixels_per_s": (per_s(extra.get("pixels", 0),
                                   op_wall("tile_stats")), "px/s"),
            "points_per_s": (
                per_s(2 * size.points, op_wall("sample_broadcast")
                      + op_wall("sample_copartition"))
                if raster else 0.0, "points/s"),
            "resume_s": (note("resume_s", traced=False), "s"),
            "write_amp": (note("write_amp", traced=False), "bytes/byte"),
            "sources.pages.scan_s": (
                counter("scan_s") if pages else 0.0, "s"),
            "sources.pages.input_bytes": (
                counter("input_bytes") if pages else 0.0, "bytes"),
            "sources.rasters.read_rasters_s": (
                timing("sources.rasters.read_rasters"), "s"),
            "sources.rasters.tasks": (extra.get("raster_tasks", 0), "count"),
        }
        for name, unit in KERNEL_METRICS:
            m[name] = (extra.get("kernels", {}).get(name, 0.0), unit)
        m["operators.spatial_join.fused_pages_pip_s"] = (
            timing("operators.spatial_join.fused_pages_pip"), "s")
        m["operators.spatial_join.rows_out"] = (
            note("operators.spatial_join.rows_out"), "count")
        for layer in ("raster_to_tiles", "tile_stats"):
            m[f"operators.tiling.{layer}_s"] = (
                python_s(f"operators.tiling.{layer}"), "s")
        m["operators.tiling.focal_stats_s"] = (
            timing("operators.tiling.focal_stats"), "s")
        m["operators.tiling.focal_shuffle_bytes"] = (
            op_counter("focal_stats", "shuffle.write_bytes") if raster
            else 0.0, "bytes")
        for mode in ("broadcast", "copartition"):
            m[f"operators.sample.{mode}_s"] = (
                timing(f"operators.sample.{mode}"), "s")
        m["operators.sample.broadcast_bytes"] = (
            2 * extra.get("pixels", 0), "bytes")
        m["plans.partitioning.adaptive_prefix_column_s"] = (
            timing("plans.partitioning.adaptive_prefix_column"), "s")
        m["plans.checkpoint.resumable_write_s"] = (
            timing("plans.checkpoint.resumable_write")
            + timing("plans.checkpoint.resume"), "s")
        for key, unit in CHECKPOINT_NOTES:
            m[f"plans.checkpoint.{key}"] = (
                note(f"plans.checkpoint.{key}"), unit)
        m["plans.lineage.instrument_python_s"] = (
            python_s("plans.lineage.instrument"), "s")
        m["plans.lineage.flush_s"] = (timing("plans.lineage.flush"), "s")
        probe = {s["op"]: s for s in self.samples if s["pass"] == PROBE_PASS}

        def probed(op, kind, key):
            return float(probe[op][kind].get(key, 0.0)) if op in probe else 0.0

        for op, layer in TEXT_LAYERS:
            m[f"{layer}_s"] = (probed(op, "timings", layer), "s")
        m["operators.dedup.minhash.candidates_per_true_pair"] = (probed(
            "minhash_lsh_pairs", "notes",
            "operators.dedup.minhash.candidates_per_true_pair"), "ratio")
        m["operators.similarity.near_dups.pairs"] = (probed(
            "lsh_near_dup_pairs", "notes",
            "operators.similarity.near_dups.pairs"), "count")
        m["plans.partitioning.doc_scan_tasks"] = (probed(
            "lsh_near_dup_pairs", "notes", "plans.partitioning.doc_scan_tasks"),
            "count")
        for key, unit in TEXT_COUNTERS:
            m[f"text.spark.{key}"] = (sum(
                probed(op, "counters", key) for op, _ in TEXT_LAYERS), unit)
        m["spark.stage.run_s"] = (run_s, "s")
        m["spark.stage.cpu_s"] = (counter("cpu_s"), "s")
        m["spark.core_util"] = (
            per_s(run_s, traced_wall * self.cpus),
            "ratio")
        m["spark.jobs"] = (counter("jobs"), "count")
        m["spark.tasks"] = (counter("tasks"), "count")
        m["spark.task_skew"] = (max(op_counter(op, "task_skew")
                                    for op in self.ops()), "ratio")
        for key, unit in SPARK_COUNTERS:
            m[f"spark.{key}"] = (counter(key), unit)
        return m

    def trace_extras(self, meta: dict, want: dict) -> dict:
        """Traced-run measurements taken outside the passes: standalone
        kernel timings, the decoded sample count and the decode tasks."""
        import kernels

        wl = self.args.workload
        extra: dict = {}
        if wl == "ingest":
            extra["kernels"] = kernels.pages_kernels(self.args.seed,
                                                     workloads.RES)
        elif wl == "raster":
            extra["kernels"] = kernels.raster_kernels(meta)
            extra["pixels"] = want["pixels"]
            extra["raster_tasks"] = raster_tasks(self.spark, meta["dir"])
        return extra

    def shutdown(self) -> None:
        """Stop the session and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        t0 = time.perf_counter()
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
            host.wait_gone(proc)
        self.phases["shutdown_s"] = time.perf_counter() - t0


def raster_tasks(spark, in_dir: str) -> int:
    """Partitions of the raster scan, i.e. decode tasks per read."""
    from geotiff_spark.sources.rasters import read_rasters

    return read_rasters(spark, os.path.join(in_dir, "rasters")
                        ).rdd.getNumPartitions()


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = host.missing_program()
    if missing:
        print(f"perfbench: not a checkout of the program (missing "
              f"{', '.join(missing)})", file=sys.stderr)
        return 2
    launch = host.fit_launch()
    sys.path.insert(0, host.ROOT)
    runner = Runner(args, launch)
    try:
        meta = runner.setup()
        t0 = time.perf_counter()
        want = expected(args.workload, args.seed, inputs.SIZES[args.size],
                        meta)
        runner.phases["oracle_s"] = time.perf_counter() - t0
        if args.corrupt:
            want = corrupt(want)
        out_dir = os.path.join(host.WORK, "out", runner.tag)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        ctx = workloads.Ctx(runner.spark, runner.tracer, meta["dir"],
                            out_dir, meta)
        from pyspark import SparkContext

        with host.MemSampler(SparkContext._gateway.proc.pid) as sampler:
            runner.measure(ctx, want, sampler)
        if args.trace:
            t0 = time.perf_counter()
            metrics = runner.per_layer(runner.trace_extras(meta, want))
            runner.phases["extras_s"] = time.perf_counter() - t0
        else:
            metrics = runner.end_to_end(sampler.peak)
        facts = host.host_facts(runner.spark.version)
    finally:
        runner.shutdown()

    attempted = len(runner.samples)
    failed = sum(not s["ok"] for s in runner.samples)
    record = {
        "run": runner.run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "size": args.size,
        "host": facts,
        "settings": {k: launch[k] for k in ("master", "cpus", "heap_mib",
                                            "env", "conf")},
        "setup": runner.setup_s, "peak_procs": sampler.peak_procs,
        "phases": dict(runner.phases,
                       run_s=time.perf_counter() - T_IMPORTED),
        "samples": runner.samples,
    }
    if args.trace:
        trace_dir = os.path.join(host.WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        record["trace_file"] = os.path.join(trace_dir,
                                            f"{runner.run_id}.json")
        runner.tracer.dump(record["trace_file"], {"record": record})
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Listings-pipeline benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload index_publish --seed 1 --seconds 10 --trace 0

One client thread in this process issues the next op when the previous
one returns. A run starts a session the way the engine's own jobs do
(``session.get_spark`` on ``local[nproc]`` with a pinned heap and the
UI off), sets the workload up once, runs untimed warm-up ops, then
times ops until they add up to ``--seconds`` (at least ``MIN_OPS``).
Every op's output is checked; a failed check counts as a failed op.
Untimed cleanup between ops releases checkpoint blocks and restores or
vacuums tables, so op N does the same work as op 1.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced ops and reports the per-layer metrics, the share
of op wall time the layer spans cover, and the tracing overhead
against the untraced ops of the same run; spans go to
``.perfbench/results/``.

The last stdout line is the result object; the line before it holds
per-op samples, first/second-half medians, the machine-load record
(with a ``busy`` flag) and the scratch-disk series.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One untimed warm-up op: the first op of a run costs 2-3x a later one
# (class loading, code generation, Python workers). A second warm-up op
# would add about 5 s to every run, more than the benchmark's run-time
# budget leaves for three workloads; listing_ingest's first timed op
# still runs about 10% slower than its second, which op_s_halves shows.
WARMUP_OPS = 1
MIN_OPS = 2
HEAP = "3g"
# Spark's hot paths are spread over thousands of methods. With the C2
# tier on, op times kept falling for 25-40 s of ops (index_publish:
# 2.7 s to 1.9 s) while compiler threads took cores from the ops. With
# C1 only, op times level off after one or two ops, which is what lets
# a short warm-up do.
JIT_FLAGS = "-XX:TieredStopAtLevel=1"
# a run is flagged busy when the probe moves by more than this factor
# between the start and the end of the timed window, or steal is high
BUSY_PROBE_RATIO = 1.25
BUSY_STEAL = 0.05
SCRATCH_SLACK = 32 << 20  # bytes a run's scratch may grow beyond 1.5x its first op


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _session(work: str):
    from delta_data_pipelines_spark.session import get_spark

    n = _nproc()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Xmn1g -XX:+UseParallelGC -XX:-UseAdaptiveSizePolicy {JIT_FLAGS} "
            f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.enabled": "false",
            # a page CRC is a varint whose length follows its value, so
            # pages holding crawl.publish's current_timestamp changed
            # bytes_written by a byte or two from run to run
            "spark.hadoop.parquet.page.write-checksum.enabled": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher's JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _probe(spark) -> float:
    """Fixed-cost machine-load probe, the shape of the bench's
    calibration aggregate at a fiftieth of its rows: SF- and
    IO-free, so it moves only with machine load. Median of 3 after one
    warm run."""
    from pyspark.sql import functions as F

    def run() -> float:
        t = time.perf_counter()
        spark.range(0, 1_000_000, 1, _nproc() * 2).select(
            F.sum(F.col("id") * 2 + 1).alias("s")
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    run()
    return statistics.median([run() for _ in range(3)])


def _machine(spark) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"probe_s": _probe(spark), "loadavg": load}


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                pass
    return total


def _halves(xs: list[float]) -> list[float]:
    h = len(xs) // 2
    return [statistics.median(xs[:h]), statistics.median(xs[h:])] if h else [xs[0], xs[0]]


# Layer spans and counters, reported by every traced run (zero where a
# layer idles).
SPANS = [
    "queries.search_index.search_index_full", "sinks.send_batches",
    "ingest.crawl.partition_new", "ingest.crawl.publish", "ingest.crawl.mark_seen",
    "ingest.fetch.fetch_stage", "ingest.quarantine.parse_with_quarantine",
    "ingest.transformers", "storage.table.merge",
    "storage.table.changes", "storage.table.apply_changes", "jobs.search_indexer.tick",
]
COUNTERS = [
    ("queries.search_index.search_index_full.rows", "count"),
    ("sinks.send_batches.batches", "count"), ("sinks.send_batches.bytes", "B"),
    ("ingest.crawl.dup_ratio", "ratio"),
    ("ingest.fetch.fetch_stage.rows", "count"), ("ingest.fetch.fetch_stage.errors", "count"),
    ("ingest.quarantine.parse_with_quarantine.quarantined", "count"),
    ("ingest.transformers.rows", "count"),
    ("storage.table.merge.bytes_written", "B"), ("storage.table.merge.rows_written", "count"),
    ("storage.table.changes.rows", "count"),
    ("storage.table.apply_changes.bytes_written", "B"),
    ("storage.table.apply_changes.rows_written", "count"),
    ("jobs.search_indexer.tick.affected_keys", "count"),
]
# (metric, numerator counter, denominator counter)
RATIOS = [
    ("storage.table.merge.useful_ratio", "storage.table.merge.useful_rows", "storage.table.merge.rows_written"),
    ("storage.table.apply_changes.useful_ratio",
     "storage.table.apply_changes.useful_rows", "storage.table.apply_changes.rows_written"),
    ("jobs.search_indexer.tick.upsert_ratio",
     "jobs.search_indexer.tick.upserts", "jobs.search_indexer.tick.affected_keys"),
]


def _layer_metrics(tracer, untraced_walls: list[float]) -> dict:
    """Per-layer metrics: medians over the traced ops of each span's
    seconds, each counter and each ratio, plus Spark jobs, GC time,
    span coverage and the overhead against the run's untraced ops."""
    ops = tracer.ops
    med = lambda f: statistics.median([f(r) for r in ops])  # noqa: E731
    out = {}
    for name in SPANS:
        out[f"{name}.s"] = (med(lambda r: tracer.per_op_seconds(r).get(name, 0.0)), "s")
    for name, unit in COUNTERS:
        out[name] = (med(lambda r: r.counts.get(name, 0.0)), unit)
    for name, num, den in RATIOS:
        out[name] = (med(lambda r: r.counts.get(num, 0.0) / r.counts[den] if r.counts.get(den) else 0.0), "ratio")
    out["session.spark_jobs"] = (med(lambda r: sum(r.jobs.values())), "count")
    out["session.jvm_gc_s"] = (med(lambda r: r.gc_s), "s")
    out["trace.span_coverage"] = (med(tracer.coverage), "ratio")
    traced = statistics.median([r.wall for r in ops])
    out["trace.overhead"] = (traced / statistics.median(untraced_walls) - 1.0, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    # Python workers import the program and this package from the root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, OpOutput

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", "work", run_id)
    results = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]

    cpu0 = _cpu_times()
    t0 = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale, tracer)

        t = time.perf_counter()
        wl.setup(os.path.join(work, "setup"))
        setup_s = session_s + time.perf_counter() - t

        walls: list[float] = []
        untraced: list[float] = []
        items = nbytes = failed = 0
        notes: list[str] = []
        scratch: list[int] = []
        between: list[float] = []  # untimed cleanup after each op

        def one_op(i: int, traced: bool) -> tuple[float, OpOutput]:
            wl.prepare(i)
            try:
                with tracer.op(i, traced):
                    t = time.perf_counter()
                    out = wl.run(i)
                    wall = time.perf_counter() - t
                res = wl.finish(i, out)
            finally:
                t = time.perf_counter()
                wl.reset()
                # start every op from collected heaps and a clean page cache
                spark.sparkContext._jvm.System.gc()
                gc.collect()
                os.sync()
                scratch.append(_du(work))
                between.append(time.perf_counter() - t)
            notes.append(res.note)
            return wall, res

        t = time.perf_counter()
        warm_ok = all(one_op(-1 - w, False)[1].ok for w in range(WARMUP_OPS))
        warmup_s = time.perf_counter() - t
        scratch.clear()

        machine_before = _machine(spark)
        window0 = time.perf_counter()
        # the window is the summed wall time of the timed ops; untimed
        # prepare and cleanup between them do not use it up
        window = 0.0
        i = 0
        while i < MIN_OPS or window < args.seconds:
            traced = bool(args.trace) and i % 2 == 1
            t = time.perf_counter()
            try:
                wall, res = one_op(i, traced)
            except Exception as exc:  # a failing op is counted, the run goes on
                notes.append(f"op {i} raised {type(exc).__name__}: {exc}")
                wall, res = time.perf_counter() - t, None
            window += wall
            i += 1
            if res is None or not res.ok:
                failed += 1
            elif traced:
                continue
            elif args.trace:
                untraced.append(wall)
            else:
                walls.append(wall)
                items += res.items
                nbytes += res.bytes_written
        attempted = i
        window_wall_s = time.perf_counter() - window0

        t = time.perf_counter()
        final_ok, final_note = wl.final_check()
        final_s = time.perf_counter() - t
        bounded = max(scratch) <= 1.5 * scratch[0] + SCRATCH_SLACK
        machine_after = _machine(spark)
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(cpu0, cpu1)]
        steal = delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0

        correct = warm_ok and failed == 0 and final_ok and bounded
        probes = machine_before["probe_s"], machine_after["probe_s"]
        busy = max(probes) > BUSY_PROBE_RATIO * min(probes) or steal > BUSY_STEAL
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "scale": args.scale, "cores": _nproc(), "heap": HEAP,
            "setup": {"session_s": session_s, "setup_s": setup_s},
            "phases_s": {"warmup": warmup_s, "window_wall": window_wall_s, "final_check": final_s},
            "op_s": walls or untraced,
            "op_s_halves": _halves(walls or untraced) if (walls or untraced) else [],
            "items": items, "bytes_written": nbytes,
            "final_check": final_note, "last_op": notes[-1] if notes else "",
            "failures": [n for n in notes if "raised" in n],
            "scratch_bytes": scratch, "scratch_bounded": bounded,
            "cleanup_s": between,
            "machine": {"before": machine_before, "after": machine_after, "cpu_steal": steal, "busy": busy},
        }
        if args.trace:
            metrics = _layer_metrics(tracer, untraced)
            tracer.dump(os.path.join(results, f"{run_id}-spans.json"))
        else:
            timed = sum(walls)
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_s.p50": {"value": statistics.median(walls), "unit": "s"},
                "items_per_s": {"value": items / timed, "unit": "1/s"},
                "bytes_written_per_item": {"value": nbytes / items, "unit": "B"},
            }
        print(json.dumps(detail))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python3
"""Benchmark of the linkage pipeline through its public entry points.

    python3 linkbench/run.py --workload batch_dup4 --seed 1 --seconds 30 --trace 0

Run from the repository root.  One run:

1. fits the Spark session to the host (linkbench/host.py) and starts it;
2. generates the seed's corpus to parquet (linkbench/workloads.py);
3. warms up untimed, so JVM, codegen and Python-worker start-up land in
   `setup_s`, not in the first timed unit;
4. runs one timed unit, and more while the next would end within
   `--seconds`:
   - batch workloads: `run_linkage(spark, spark.read.parquet(pages),
     store=SnapshotStore(<fresh dir>))`, the shape `jobs/linkage_submit`
     runs, timed until the clusters snapshot is committed; the warm-up
     is one such call;
   - stream workloads: one `process_linkage_batch` call, ingesting the
     last url-hash micro-batch into a fresh copy of the store that the
     earlier micro-batches built; building that store is the warm-up;
5. checks every unit (warm-up included) outside its timed interval:
   one cluster row per page, pairwise F1 >= 0.99 against generator truth
   on duplicate corpora, no false pairs on the duplicate-free corpus, and
   one content hash of the clusters for every unit of the run (per
   micro-batch index for a stream).  A unit that raises or fails a check
   counts in `failed`;
6. with `--trace 1`, also runs one traced unit (for a stream, a pass
   over every micro-batch from an empty store) followed by one more
   untraced unit, and reports the per-layer metrics (spans, job groups,
   event log, store footers; linkbench/trace.py) instead of the
   end-to-end ones.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics.  Exit code 2 if the pipeline cannot be imported from this
checkout.  `--workload all` runs every workload in turn, one process each.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from linkbench.host import MemSampler, fit_host  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, help="a workload name, or all")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _import_pipeline() -> str | None:
    """None if the pipeline imports from this checkout, else why not."""
    try:
        import biomedical_el_spark
    except ImportError as e:
        return f"cannot import the pipeline: {e}"
    where = os.path.dirname(os.path.abspath(biomedical_el_spark.__file__))
    if os.path.dirname(where) != ROOT:
        return f"pipeline imported from {where}, not from this checkout"
    return None


def tail_percentile(values: list[float]) -> tuple[float, float] | None:
    """(p, value) for the highest of the usual percentiles that has at
    least 10 samples beyond it, or None if there are too few samples."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            q = statistics.quantiles(values, n=1000, method="inclusive")
            return p, q[round(p * 10) - 1]
    return None


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (the gateway JVM
    exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _mark_hash_mismatches(units) -> None:
    """Fail every unit whose clusters hash differs from the first
    checked unit with the same micro-batch index."""
    first: dict[int, str] = {}
    for u in units:
        if u.check is None:
            continue
        ref = first.setdefault(u.index, u.check.content_hash)
        if u.check.content_hash != ref and u.check.ok:
            u.check.ok = False
            u.check.reason = f"clusters hash {u.check.content_hash} != {ref}"


def run_all(args) -> int:
    """Every workload, each in its own process (its own JVM)."""
    from linkbench.workloads import WORKLOADS

    codes = [
        subprocess.run([
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]).returncode
        for name in WORKLOADS
    ]
    return max(codes)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    base = os.path.join(ROOT, ".linkbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        host = fit_host(ROOT, work)
        why = _import_pipeline()
        if why is not None:
            print(f"linkbench: {why}", file=sys.stderr)
            return 2
        from linkbench import workloads as W

        if args.workload not in W.WORKLOADS:
            print(f"linkbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
            return 2
        result = run(args, host, W.WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


CORPUS_REPEATS = 3  # corpus generation is repeated; setup_s counts its median


def run(args, host, w, work: str) -> dict:
    from biomedical_el_spark.session import get_spark

    from linkbench import workloads as W
    from linkbench.metrics import END_TO_END, PER_LAYER, select

    mem = MemSampler().start()
    extra = {}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }
    spark = get_spark("linkbench", cores=host.cores, extra_conf=extra)
    traced = None
    try:
        t_session = time.perf_counter() - T_START
        corpus_s = []
        for _ in range(CORPUS_REPEATS):
            t0 = time.perf_counter()
            corpus = W.write_corpus(w, args.seed, os.path.join(work, "corpus"), host.cores)
            corpus_s.append(time.perf_counter() - t0)
        store = os.path.join(work, "store")
        t0 = time.perf_counter()
        if not w.micro_batches:
            unit_pages = w.pages

            def unit():
                return W.batch_unit(spark, corpus, store)

            warm = [unit()]
        else:
            # ingesting the micro-batches before the last is the warm-up
            unit_pages = len(corpus.shard_urls[-1])
            prepared = os.path.join(work, "prepared")
            warm = W.stream_pass(spark, w, corpus, prepared, w.micro_batches - 1)

            def unit():
                return W.stream_unit(spark, w, corpus, prepared, store)

        t_warm = time.perf_counter() - t0
        setup_s = t_session + statistics.median(corpus_s) + t_warm
        # one timed unit, then more while the next would end within --seconds
        timed = []
        t0 = time.perf_counter()
        while True:
            timed.append(unit())
            spent = time.perf_counter() - t0
            if spent * (len(timed) + 1) / len(timed) > args.seconds:
                break
        units = warm + timed
        if args.trace:
            traced = trace_unit(spark, w, corpus, os.path.join(work, "traced"))
            # units still get faster run over run (JIT), so the traced
            # unit is compared with the untraced units on both sides of it
            after = unit()
            units += traced.units + [after]
            untraced_s = (timed[-1].wall_s + after.wall_s) / 2
        _mark_hash_mismatches(units)
        peak_mb = mem.peak_mb
    finally:
        stop_spark(spark)
        mem.stop()

    walls = [u.wall_s for u in timed]
    failed = sum(not u.ok for u in units)
    p50 = statistics.median(walls)
    checked = [u.check for u in units if u.check is not None]
    print(f"linkbench workload={w.name} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} pages={w.pages} unit_pages={unit_pages}")
    print("host: " + " ".join(f"{k}={v}" for k, v in host.describe().items()))
    print(f"setup: session {t_session:.2f} s, corpus {statistics.median(corpus_s):.2f} s "
          f"(median of {CORPUS_REPEATS}), warm-up {t_warm:.2f} s ({len(warm)} units)")
    print(f"timed units: {len(walls)}; walls s: " + " ".join(f"{x:.3f}" for x in walls))
    tail = tail_percentile(walls)
    print("latency_s_tail: " + (
        f"p{tail[0]:g} = {tail[1]:.4f} s over {len(walls)} samples" if tail
        else f"n/a ({len(walls)} samples; a tail needs at least 11)"))
    for u in units:
        if not u.ok:
            reason = u.check.reason if u.check else "raised"
            print(f"FAILED unit (micro-batch {u.index}): {reason}")
    if checked:
        c = checked[-1]
        print(f"missed_pairs {c.missed_pairs} count; false_pairs {c.false_pairs} "
              f"count; pairwise F1 {c.f1:.5f}")
    print(f"failed_share {failed / len(units):.4f} ({failed}/{len(units)} units)")

    if traced is None:
        values = {
            "latency_s_p50": p50,
            "cpu_s_p50": statistics.median(u.cpu_s for u in timed),
            "pages_per_s": unit_pages / p50,
            "peak_pss_mb": peak_mb,
            "setup_s": setup_s,
        }
        chosen = END_TO_END
    else:
        from linkbench.trace import read_event_log

        # the event log is complete only once the session has stopped
        values = select({
            **traced.values(read_event_log(log_dir)),
            "trace.overhead_s": traced.wall_s - untraced_s,
            "checks.missed_pairs": checked[-1].missed_pairs if checked else 0,
            "checks.false_pairs": checked[-1].false_pairs if checked else 0,
        })
        chosen = PER_LAYER
    for m in chosen:
        print(f"{m.name} {values[m.name]:.4f} {m.unit}"
              + (f"  [{m.layer}] -> {m.moves}" if traced else ""))
    return {
        "correct": failed == 0,
        "attempted": len(units),
        "failed": failed,
        "metrics": {m.name: {"value": values[m.name], "unit": m.unit} for m in chosen},
    }


@dataclass
class Traced:
    units: list  # the traced units, checked like the others
    wall_s: float  # wall comparable with the untraced units' median
    values: Callable[[dict], dict]  # event-log sums -> per-layer values


def trace_unit(spark, w, corpus, store: str) -> Traced:
    """One traced unit: a run_linkage call (batch), or a pass over every
    micro-batch from an empty store (stream)."""
    from linkbench import metrics as M
    from linkbench import trace as T
    from linkbench import workloads as W

    if not w.micro_batches:
        tracer = T.Tracer(spark, "linkage")
        with tracer.run():
            unit = W.batch_unit(
                spark, corpus, store, lambda root: T.TracingStore(root, tracer)
            )
        jobs = {g: T.group_job_stats(spark, g) for g in tracer.groups()}
        footprint = {
            s: T.store_footprint(os.path.join(store, s, "data"))
            for s in M.BATCH_STAGES
        }
        return Traced([unit], unit.wall_s, lambda events: M.batch_layer_values(
            t0=unit.start, t1=unit.start + unit.wall_s, spans=tracer.spans,
            jobs=jobs, events=events, footprint=footprint, pages=w.pages))
    tracer = T.Tracer(spark, "stream")
    files: dict[str, int] = {}

    @contextmanager
    def span(name):
        t = time.time()
        with tracer.span(name):
            yield
        files[name] = _files_since(store, t)

    with tracer.run():
        units = W.stream_pass(spark, w, corpus, store, w.micro_batches, span)
    jobs = {g: T.group_job_stats(spark, g) for g in tracer.groups() if g != "stream"}
    footprint = {s: T.store_footprint(os.path.join(store, s)) for s in M.STREAM_STAGES}
    store_mb = T.store_footprint(store)["bytes_written_mb"]
    pass_wall = sum(u.wall_s for u in units)
    return Traced(units, units[-1].wall_s, lambda events: M.stream_layer_values(
        pass_wall=pass_wall, spans=tracer.spans, jobs=jobs, events=events,
        files=files, footprint=footprint, store_mb=store_mb, pages=w.pages))


def _files_since(root: str, t: float) -> int:
    n = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet") and os.path.getmtime(os.path.join(dirpath, name)) >= t:
                n += 1
    return n


if __name__ == "__main__":
    sys.exit(main())

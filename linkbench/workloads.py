"""Workloads: seeded corpora, the timed units of work, and the per-unit
correctness check.

A corpus is a window of `datagen.pages`' generator: pages are a pure
function of their row id, so the seed selects a disjoint id window and
the pipeline sees only the generated parquet.  Generator truth
(url -> entity) stays in the benchmark's driver.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import traceback
import zlib
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from biomedical_el_spark.datagen.pages import _render
from biomedical_el_spark.plans.linkage import run_linkage
from biomedical_el_spark.sources.snapshots import SnapshotStore
from biomedical_el_spark.streaming.incremental import (
    process_linkage_batch,
    read_clusters,
)

from .host import tree_cpu_s

# seed s selects ids [ID_BASE + s' * ID_WINDOW, ... + pages), s' = s mod
# SEED_SLOTS.  Every window has 9-digit ids (urls of one length for any
# seed) and stays below the generator's timestamp range (id * 7 s).
ID_BASE = 100_000_000
ID_WINDOW = 100_000
SEED_SLOTS = 9_000

MIN_F1 = 0.99


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    cluster_size: int
    micro_batches: int = 0  # 0: a batch workload, run_linkage on all pages
    # stream store buckets: the incremental path's layout knob, sized to
    # the corpus (its default of 64 buckets targets far larger stores)
    n_buckets: int = 64
    why: str = ""


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_dup4", 5_000, 4,
            why="flagship corpus (clusters of 4) through run_linkage: pair, "
            "score and CC work dominate",
        ),
        Workload(
            "batch_unique", 5_000, 1,
            why="no duplicates, the common web case: features and blocks "
            "dominate, zero links; bypasses pair/score/CC work",
        ),
        Workload(
            "stream_dup4", 4_000, 4, micro_batches=2, n_buckets=8,
            why="dup4 corpus as url-hash micro-batches through "
            "process_linkage_batch: the incremental layer no batch run touches",
        ),
    )
}


@dataclass
class Corpus:
    truth: pd.DataFrame  # url, entity_id
    pages_path: str = ""  # batch: the whole corpus
    shard_paths: list[str] = field(default_factory=list)  # stream, in ingest order
    shard_urls: list[frozenset[str]] = field(default_factory=list)


def _write_parquet(pdf: pd.DataFrame, path: str, files: int) -> None:
    """Write pages as `files` parquet files with the pipeline's page
    schema (timestamps as UTC microseconds, as Spark writes them)."""
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    ts = table.schema.get_field_index("warc_ts")
    table = table.set_column(
        ts, "warc_ts", table.column(ts).cast(pa.timestamp("us", tz="UTC"))
    )
    step = -(-len(pdf) // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def write_corpus(w: Workload, seed: int, out_dir: str, files: int) -> Corpus:
    """Generate the seed's window of `w.pages` pages and write it to
    parquet: whole (batch) or as url-hash micro-batches (stream)."""
    lo = ID_BASE + (seed % SEED_SLOTS) * ID_WINDOW
    pdf = _render(np.arange(lo, lo + w.pages, dtype=np.int64), w.cluster_size, 0.0)
    corpus = Corpus(pdf[["url", "entity_id"]].copy())
    pages = pdf.drop(columns="entity_id")
    shutil.rmtree(out_dir, ignore_errors=True)
    if not w.micro_batches:
        corpus.pages_path = os.path.join(out_dir, "pages")
        _write_parquet(pages, corpus.pages_path, files)
        return corpus
    shard = pages["url"].map(lambda u: zlib.crc32(u.encode()) % w.micro_batches)
    for i in range(w.micro_batches):
        part = pages[shard == i]
        path = os.path.join(out_dir, f"batch-{i}")
        _write_parquet(part, path, files)
        corpus.shard_paths.append(path)
        corpus.shard_urls.append(frozenset(part["url"]))
    return corpus


@dataclass
class Check:
    ok: bool
    rows: int
    missed_pairs: int
    false_pairs: int
    f1: float
    content_hash: str
    reason: str = ""


def _pair_count(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def check_clusters(clusters: pd.DataFrame, truth: pd.DataFrame) -> Check:
    """Check a (node, component) clustering against generator truth
    (url, entity_id): one row per page, and the pairwise errors of the
    clusters against the gold pairs (all pairs within an entity).  Pair
    counts come from group sizes, so the check is linear in pages."""
    ordered = clusters.sort_values(["node", "component"])
    digest = hashlib.sha256(
        "\n".join(ordered["node"] + "\t" + ordered["component"]).encode()
    ).hexdigest()[:16]
    m = clusters.merge(truth, left_on="node", right_on="url", how="inner")
    pred = _pair_count(clusters.groupby("component").size())
    gold = _pair_count(truth.groupby("entity_id").size())
    tp = _pair_count(m.groupby(["component", "entity_id"]).size())
    fp, fn = pred - tp, gold - tp
    f1 = 2 * tp / (2 * tp + fp + fn) if tp + fp + fn else 1.0
    reason = ""
    if len(clusters) != len(truth) or len(m) != len(truth) or clusters["node"].duplicated().any():
        reason = f"{len(clusters)} cluster rows for {len(truth)} pages"
    elif gold and f1 < MIN_F1:
        reason = f"pairwise F1 {f1:.4f} < {MIN_F1}"
    elif not gold and fp:
        reason = f"{fp} false pairs on a corpus without duplicates"
    return Check(not reason, len(clusters), fn, fp, f1, digest, reason)


@dataclass
class Unit:
    """One unit of work: its start (perf_counter), wall time, CPU time of
    the process tree, and check (None if the unit raised)."""
    start: float
    wall_s: float
    cpu_s: float
    check: Check | None
    index: int = 0  # micro-batch index within a stream pass

    @property
    def ok(self) -> bool:
        return self.check is not None and self.check.ok


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _timed(call, check, index: int = 0) -> Unit:
    """Time `call()`; then, outside the timed interval, `check()`.  A
    raise in either makes the unit a failed one."""
    cpu0 = tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    try:
        call()
    except Exception:
        traceback.print_exc()
        return Unit(t0, time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0, None, index)
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s(os.getpid()) - cpu0
    try:
        return Unit(t0, wall, cpu, check(), index)
    except Exception:
        traceback.print_exc()
        return Unit(t0, wall, cpu, None, index)


def batch_unit(spark, corpus: Corpus, store_dir: str, store_factory=SnapshotStore) -> Unit:
    """One `run_linkage` call on the corpus parquet with a fresh snapshot
    store, timed until the clusters snapshot is committed."""
    store = store_factory(_fresh(store_dir))

    def check() -> Check:
        clusters = store.read(spark, "clusters").select("node", "component")
        return check_clusters(clusters.toPandas(), corpus.truth)

    return _timed(
        lambda: run_linkage(spark, spark.read.parquet(corpus.pages_path), store=store),
        check,
    )


def _ingest(spark, w: Workload, corpus: Corpus, i: int, store_dir: str) -> None:
    batch = spark.read.parquet(corpus.shard_paths[i])
    process_linkage_batch(batch, i, store_dir, n_buckets=w.n_buckets)


def _stream_check(spark, corpus: Corpus, upto: int, store_dir: str) -> Check:
    """The store's clusters against the truth of micro-batches 0..upto."""
    seen = frozenset().union(*corpus.shard_urls[: upto + 1])
    truth = corpus.truth[corpus.truth["url"].isin(seen)]
    return check_clusters(read_clusters(spark, store_dir).toPandas(), truth)


def stream_pass(
    spark, w: Workload, corpus: Corpus, store_dir: str, upto: int,
    span=lambda name: nullcontext(),
) -> list[Unit]:
    """Micro-batches 0..upto-1 in order into a fresh store, each call
    wrapped in `span(f"stream.b{i}")` (the traced run's spans and job
    groups).  A failed micro-batch ends the pass; the rest count as
    failed."""
    _fresh(store_dir)
    units: list[Unit] = []
    for i in range(upto):

        def call(i=i) -> None:
            with span(f"stream.b{i}"):
                _ingest(spark, w, corpus, i, store_dir)

        units.append(_timed(call, lambda i=i: _stream_check(spark, corpus, i, store_dir), i))
        if not units[-1].ok:
            units.extend(Unit(0.0, 0.0, 0.0, None, j) for j in range(i + 1, upto))
            break
    return units


def stream_unit(spark, w: Workload, corpus: Corpus, prepared: str, store_dir: str) -> Unit:
    """One `process_linkage_batch` call: the last micro-batch into a
    fresh copy of `prepared`, the store the micro-batches before it
    built (`stream_pass(..., upto=w.micro_batches - 1)`)."""
    last = w.micro_batches - 1
    shutil.copytree(prepared, _fresh(store_dir))
    return _timed(
        lambda: _ingest(spark, w, corpus, last, store_dir),
        lambda: _stream_check(spark, corpus, last, store_dir), last,
    )

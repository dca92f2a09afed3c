"""Single-process replay of a workload's Arrow batches through the layers'
public functions, for per-layer busy time and counts.

Spark feeds each Python task one scan split (one parquet file here) in
16384-row Arrow batches; the replay reads the same files in the same batch
size and repeats what each Python task does, timing every call into
``hashkern``, ``core``, ``sketches`` and the ``agg`` blob helpers.  Its
outputs are checked against the Spark run's, so a replay that drifts from
the program fails the run.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import numpy as np

from harness import ARROW_BATCH_ROWS


class Clock:
    """Busy seconds and counts per metric name."""

    def __init__(self):
        self.t: dict[str, float] = defaultdict(float)
        self.n: dict[str, float] = defaultdict(float)

    @contextmanager
    def __call__(self, *names: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            for name in names:
                self.t[name] += dt


def _batches(path: Path, columns: list[str], row_filter=None):
    """Yield one list of record batches per parquet file."""
    import pyarrow.parquet as pq

    for f in sorted(path.glob("*.parquet")):
        table = pq.read_table(f, columns=columns)
        if row_filter is not None:
            table = table.filter(row_filter(table))
        yield table.to_batches(max_chunksize=ARROW_BATCH_ROWS)


def _pack(clock: Clock, col, int_mode: str = "raise"):
    from poppy_spark.core.hashkern import pack_arrow

    with clock("hashkern.pack_s", "sketches.update_s.bloom"):
        mat, lens = pack_arrow(col, int_mode=int_mode)
    clock.n["pack.key_bytes"] += int(lens.sum())
    clock.n["pack.matrix_bytes"] += mat.size
    return mat, lens


def bloom_build(clock: Clock, path: Path, capacity: int, fpp: float, row_filter=None):
    """The ``build_sketch`` Python work: one partial filter per file, then
    serde, LZ4 envelopes and the union fold.  Returns (sketch, routes)."""
    from poppy_spark.sketches import BloomSketch
    from poppy_spark.spark.agg import compress_blob, decompress_blob

    partials, routes = [], []
    for batches in _batches(path, ["text"] + (["conv_id"] if row_filter else []), row_filter):
        sk = BloomSketch.create(capacity, fpp)
        for b in batches:
            mat, lens = _pack(clock, b.column(0))
            with clock("hashkern.route_s", "sketches.update_s.bloom"):
                ctx = sk.filter.route_packed(mat, lens)
            with clock("core.insert_s", "sketches.update_s.bloom"):
                sk.filter.or_routed(*ctx)
            routes.append(ctx)
        partials.append(sk)
    merged = None
    for sk in partials:
        with clock("sketches.serde_s"):
            raw = sk.dumps()
        with clock("agg.compress_s"):
            blob = compress_blob(raw)
            raw2 = decompress_blob(blob)
        clock.n["agg.raw_bytes"] += len(raw)
        clock.n["agg.blob_bytes"] += len(blob)
        with clock("sketches.serde_s"):
            part = BloomSketch.loads(raw2)
        if merged is None:
            merged = part
        else:
            with clock("core.union_s", "sketches.merge_s"):
                merged.merge(part)
    merged.finalize_merge()
    clock.n["agg.partials"] += len(partials)
    clock.n["agg.groups"] += 1
    return merged, routes


def bloom_contains_routes(clock: Clock, filt, routes) -> int:
    """Membership of pre-routed batches; returns the number of misses."""
    misses = 0
    for ctx in routes:
        with clock("core.contains_s"):
            hit = filt.contains_routed(*ctx)
        misses += int((~hit).sum())
    return misses


def bloom_probe(clock: Clock, path: Path, filt) -> dict:
    """The ``bloom_contains`` UDF work over the query files: confusion
    counts keyed like the Spark output, ``(truth, hit)``."""
    out: dict = defaultdict(int)
    for batches in _batches(path, ["text", "truth"]):
        for b in batches:
            mat, lens = _pack(clock, b.column(0))
            with clock("hashkern.route_s"):
                ctx = filt.route_packed(mat, lens)
            with clock("core.contains_s"):
                hit = filt.contains_routed(*ctx)
            truth = b.column(1).to_numpy(zero_copy_only=False)
            for t in (False, True):
                for h in (False, True):
                    n = int(((truth == t) & (hit == h)).sum())
                    if n:
                        out[(t, h)] += n
    return dict(out)


def _segments(values: list):
    """(start, end) of runs of equal adjacent values."""
    r, n = 0, len(values)
    while r < n:
        r2 = r + 1
        while r2 < n and values[r2] == values[r]:
            r2 += 1
        yield r, r2
        r = r2


def grouped_states(clock: Clock, family: str, table, group_cols: list[str], key: str, factory):
    """Phase 1 and 2 of the ``shuffle="states"`` grouped build: per split
    and batch, sort by group and update one partial per group; then LZ4
    envelopes, serde and a per-group merge.  ``table`` carries a ``pid``
    column (the Spark partition).  Returns {group: serialized state}."""
    import pyarrow.compute as pc

    from poppy_spark.spark.agg import compress_blob, decompress_blob

    cls = type(factory())
    upd = f"sketches.update_s.{family}"
    partials: dict = defaultdict(list)
    pids = table.column("pid").to_numpy()
    for pid in np.unique(pids):
        part = table.filter(pc.equal(table.column("pid"), int(pid)))
        states: dict = {}
        for b in part.to_batches(max_chunksize=ARROW_BATCH_ROWS):
            b = b.take(pc.sort_indices(b, sort_keys=[(c, "ascending") for c in group_cols]))
            gvals = list(zip(*[b.column(c).to_pylist() for c in group_cols]))
            kcol = b.column(key)
            for r, r2 in _segments(gvals):
                sk = states.get(gvals[r])
                if sk is None:
                    sk = states[gvals[r]] = factory()
                with clock(upd):
                    sk.update_arrow(kcol.slice(r, r2 - r))
        for g, sk in states.items():
            with clock("sketches.serde_s"):
                raw = sk.dumps()
            with clock("agg.compress_s"):
                blob = compress_blob(raw)
            clock.n["agg.raw_bytes"] += len(raw)
            clock.n["agg.blob_bytes"] += len(blob)
            partials[g].append(blob)
    out = {}
    for g, blobs in partials.items():
        merged = None
        for blob in blobs:
            with clock("agg.compress_s"):
                raw = decompress_blob(blob)
            with clock("sketches.serde_s"):
                part = cls.loads(raw)
            if merged is None:
                merged = part
            else:
                with clock("sketches.merge_s"):
                    merged.merge(part)
        merged.finalize_merge()
        with clock("sketches.serde_s"):
            out[g] = merged.dumps()
        clock.n["agg.partials"] += len(blobs)
        clock.n["agg.groups"] += 1
    return out


def grouped_bloom_rows(clock: Clock, table, factory) -> dict:
    """The ``shuffle="rows"`` per-conversation build: rows sorted by group,
    batch routed once, one ``update_slice`` per group segment."""
    built: dict = {}
    template = factory()
    for b in table.to_batches(max_chunksize=ARROW_BATCH_ROWS):
        gvals = b.column(0).to_pylist()
        mat, lens = _pack(clock, b.column(1))
        with clock("hashkern.route_s", "sketches.update_s.bloom"):
            ctx = template.filter.route_packed(mat, lens)
        for r, r2 in _segments(gvals):
            sk = built.get(gvals[r])
            if sk is None:
                sk = built[gvals[r]] = factory()
            with clock("core.insert_s", "sketches.update_s.bloom"):
                sk.update_slice(ctx, r, r2)
    for sk in built.values():
        sk.finalize_merge()
        with clock("sketches.serde_s"):
            sk.dumps()
    return built


def grouped_bloom_probe(clock: Clock, table, built: dict) -> dict:
    """The grouped-join probe: rows sorted by group, batch routed once,
    each group's slice tested against its own filter.  Confusion counts
    keyed like the Spark output, ``(truth, skewed, hit)``."""
    out: dict = defaultdict(int)
    template = next(iter(built.values()))
    for b in table.to_batches(max_chunksize=ARROW_BATCH_ROWS):
        gvals = b.column(0).to_pylist()
        mat, lens = _pack(clock, b.column(1))
        with clock("hashkern.route_s"):
            ib, idx, bh = template.filter.route_packed(mat, lens)
        hit = np.zeros(b.num_rows, dtype=bool)
        for r, r2 in _segments(gvals):
            sk = built.get(gvals[r])
            if sk is not None:
                with clock("core.contains_s"):
                    hit[r:r2] = sk.filter.contains_routed(ib[r:r2], idx[r:r2], bh[r:r2])
        truth = b.column(2).to_numpy(zero_copy_only=False)
        skewed = b.column(3).to_numpy(zero_copy_only=False)
        for key in zip(truth.tolist(), skewed.tolist(), hit.tolist()):
            out[key] += 1
    return dict(out)

"""Data-local Python parquet scan for heavy binary (image) columns.

Why this exists: shipping multi-hundred-KB binary cells from the JVM to
Python workers through the Arrow bridge contends on the JVM's shared Arrow
allocator — measured on this box, a 32-thread local JVM moves the same 400 MB
of image bytes 10-20x SLOWER than an 8-thread one (narrow columns scale
perfectly; only large var-binary columns invert).  Production executors run
4-8 cores per JVM and rarely hit this, but the right architecture at any
scale is: the driver plans SPLITS (file + row-group ranges), the JVM runs
one wave of tasks (one per core) over a ``spark.range`` of split ids, and
each Python task reads its own block of splits with pyarrow — data-local,
zero JVM byte-shuffling, no exchange, exactly how a C++/Rust scan operator
would behave.  This is the engine's S3-scan analog (EOReader's windowed
rasterio read in ``eoreader/utils.py``).

Pruning: row-group splits carry parquet min/max stats, so predicate pushdown
on split columns happens at plan time (driver), and column pruning happens in
``pq.read_table(columns=...)`` — the same two optimizations Catalyst applies
to JVM scans.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _rg_excluded(rg_meta, predicate: tuple[str, object, object]) -> bool:
    """True iff the row group's footer min/max PROVES no row can satisfy
    ``col BETWEEN lo AND hi`` (either bound may be None = open).  Missing or
    partial stats keep the row group — pruning must never change results."""
    col, lo, hi = predicate
    for j in range(rg_meta.num_columns):
        cm = rg_meta.column(j)
        if cm.path_in_schema == col:
            st = cm.statistics
            if st is None or not st.has_min_max:
                return False
            try:
                if hi is not None and st.min > hi:
                    return True
                if lo is not None and st.max < lo:
                    return True
            except TypeError:
                # bound/stat type mismatch (e.g. string bound vs date stats):
                # degrade to the documented conservative keep (ADVICE r3)
                return False
            return False
    raise KeyError(f"predicate column {col!r} not in parquet schema")


def parquet_splits(
    path: str,
    split_row_groups: bool = True,
    predicate: tuple[str, object, object] | None = None,
) -> list[tuple[str, int, int]]:
    """Driver-side split planning: -> [(file, row_group_start, row_group_end)].

    One split per row group when ``split_row_groups`` (finer parallelism for
    few-large-files layouts); else one per file.

    ``predicate=(column, lo, hi)`` prunes row groups whose footer min/max
    stats exclude the closed range — the Iceberg-manifest / Catalyst
    parquet-filter behavior, applied at PLAN time so excluded groups never
    become tasks.  Pruning is conservative (kept when stats are missing) and
    coarse: survivors may still contain non-matching rows, so callers keep
    their residual filter, exactly like Spark's PushedFilters."""
    p = Path(path)
    files = sorted(str(f) for f in p.glob("**/*.parquet")) if p.is_dir() else [str(p)]
    splits: list[tuple[str, int, int]] = []
    for f in files:
        meta = pq.ParquetFile(f).metadata
        if split_row_groups:
            for i in range(meta.num_row_groups):
                if predicate is not None and _rg_excluded(meta.row_group(i), predicate):
                    continue
                splits.append((f, i, i + 1))
        else:
            if predicate is not None and all(
                _rg_excluded(meta.row_group(i), predicate)
                for i in range(meta.num_row_groups)
            ):
                continue
            splits.append((f, 0, -1))
    return splits


def scan(
    spark: SparkSession,
    path: str,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    columns: list[str] | None = None,
    predicate: tuple[str, object, object] | None = None,
) -> DataFrame:
    """Distribute parquet splits; each Python task reads its splits locally
    and applies ``kernel`` (batch DataFrame -> batch DataFrame).  An
    optional ``predicate`` range prunes row groups at plan time (see
    parquet_splits); the kernel still sees every row of surviving groups."""
    splits = parquet_splits(path, predicate=predicate)
    # One wave of tasks, no exchange: ``spark.range`` hands each of n tasks
    # a contiguous block of split ids (balanced to +-1 split) and the
    # closure maps an id back to its split.  A Python task costs ~70-80 ms
    # of fixed overhead against ~9 ms of decode + index work per 8-image
    # split, so one task per core beats one task per split (BENCH.md
    # "pyscan one wave").  Trade-off: one wave cannot rebalance unequal
    # splits; for equal splits the critical path is ceil(S/cores)
    # split-times either way.  The id -> split mapping is a pure function
    # of the driver-side list, so a retried task re-reads the same splits.
    n = max(1, min(len(splits), spark.sparkContext.defaultParallelism))

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for i in pdf["id"]:
                file, rg0, rg1 = splits[i]
                pf = pq.ParquetFile(file)
                if rg1 < 0:
                    table = pf.read(columns=columns)
                else:
                    table = pf.read_row_groups(list(range(rg0, rg1)), columns=columns)
                out = kernel(table.to_pandas())
                if out is not None and len(out):
                    yield out

    return spark.range(0, len(splits), 1, n).mapInPandas(run, schema=schema)


def index_stats_scan(
    spark: SparkSession, images_path: str, index_names: list[str],
    params: dict[str, dict] | None = None,
    predicate: tuple[str, object, object] | None = None,
) -> DataFrame:
    """The production form of functions.indices.index_stats: decode + index
    kernels run against locally-read splits (bytes never cross the JVM)."""
    from eoreader_spark.functions import indices

    params = params or {}
    names = list(index_names)
    entries = {n: indices.INDEX_REGISTRY[n] for n in names}
    needs = indices.needed_bands(names)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np  # noqa: F401

        rows = []
        for iid, img in zip(pdf["image_id"], indices.decode_planes(pdf)):
            bands = {b: indices.to_reflectance(img[indices.PLANE_OF[b]]) for b in needs}
            for n in names:
                _, fn = entries[n]
                v = fn(bands, **params.get(n, {})).astype("float64")
                rows.append((iid, n, float(v.mean()), float(v.min()), float(v.max())))
        return pd.DataFrame(rows, columns=["image_id", "index_name", "mean", "min", "max"])

    return scan(
        spark,
        images_path,
        kernel,
        schema="image_id string, index_name string, mean double, min double, max double",
        columns=["image_id", "bytes", "fmt", "h", "w"],
        predicate=predicate,
    )

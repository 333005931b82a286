"""The benchmark workloads.

Each workload is a closed loop with one client: it issues an operation,
waits for the result, and issues the next.  It owns its inputs, its
operations, the correctness checks run after timing, and the per-layer
numbers it can report.  ``perfbench/run.py`` drives set-up, the cold first
operation, the timed window, the checks and the output.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import sys
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from eoreader_spark import codecs, datagen, pipelines
from eoreader_spark.functions import indices
from eoreader_spark.lineage import LineageStore
from eoreader_spark.operators import assign, stencil
from eoreader_spark.sources import pyscan
from eoreader_spark.spatial import pip
from perfbench import inputs, trace


@dataclass
class Op:
    """One issued operation: its timing, the items it processed and what it
    returned (kept for the checks that run after timing)."""

    name: str
    kind: str  # "cold" (first issue), "warm" (timed window) or "probe" (traced runs only)
    seconds: float = 0.0
    items: int = 0
    result: object = None
    span_id: int | None = None
    columns: list[str] = field(default_factory=list)
    phases: dict[str, float] = field(default_factory=dict)
    error: str | None = None
    problems: list[str] = field(default_factory=list)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Workload:
    """A workload: its seeded inputs, its operations and their checks."""

    name = ""

    def __init__(self, run, sizes) -> None:
        self.run = run
        self.sizes = sizes

    @property
    def spark(self):
        return self.run.spark

    def input_sizes(self) -> dict[str, int]:
        raise NotImplementedError

    def write_inputs(self, root: Path) -> None:
        raise NotImplementedError

    def cold_ops(self) -> list[str]:
        raise NotImplementedError

    def warm_ops(self):
        """Endless iterator of warm operation names, in issue order."""
        raise NotImplementedError

    def execute(self, op: Op) -> None:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> None:
        """Append to ``op.problems`` for every wrong result."""
        raise NotImplementedError

    def corrupt(self, op: Op) -> None:
        """Test hook: make one result wrong so the checks must catch it."""
        raise NotImplementedError

    def p50_s(self, warm: list[Op]) -> float:
        return median(o.seconds for o in warm)

    def probe_ops(self) -> list[str]:
        """Operations run after the timed window in traced runs only."""
        return []

    def layers(self, ops: list[Op]) -> dict[str, float]:
        return {}

    def cleanup(self) -> None:
        pass


# ------------------------------------------------------------------ ingest
STAGES = ["images", "tiles", "assign", "index_stats"]


class Ingest(Workload):
    """Index stats (pyscan) -> tile/AOI assignment -> DEM slope over the
    seeded landing tables, repeated.  Traced runs add the lineage probe:
    ``LineageStore.run_stage`` in ``pipelines.run_pipeline``'s stage order
    into a fresh root, then the same calls again on the completed root."""

    name = "ingest"

    def __init__(self, run, sizes) -> None:
        super().__init__(run, sizes)
        self.roots: list[str] = []

    def input_sizes(self) -> dict[str, int]:
        s = self.sizes
        return {"images": s.images, "tiles": len(self.land.tiles), "aois": s.aois,
                "dem_scenes": s.dem_scenes, "dem_tiles": len(self.land.dem),
                "image_files": s.image_files}

    def write_inputs(self, root: Path) -> None:
        self.land = inputs.build_landing(self.run.seed, self.sizes, str(root))
        inputs.write_landing(self.land, self.sizes)

    def cold_ops(self) -> list[str]:
        return ["iteration"]

    def warm_ops(self):
        while True:
            yield "iteration"

    def probe_ops(self) -> list[str]:
        return ["lineage_fresh", "lineage_resume"]

    def execute(self, op: Op) -> None:
        if op.name == "iteration":
            self._iteration(op)
            return
        if op.name == "lineage_fresh":
            self.roots.append(str(self.run.scratch / f"lineage-{len(self.roots)}"))
        op.result = (self.roots[-1], self._stages(self.roots[-1]))

    def _iteration(self, op: Op) -> None:
        run, land, spark = self.run, self.land, self.spark
        stats, _ = run.action(
            "pyscan.index_stats_scan",
            lambda: pyscan.index_stats_scan(spark, land.images_path, inputs.INDEX_NAMES))
        assigned, _ = run.action(
            "assign.assign_tiles",
            lambda: assign.assign_tiles(spark.read.parquet(land.tiles_path),
                                        spark.read.parquet(land.aoi_path)))
        slope_n, _ = run.action(
            "stencil.slope",
            lambda: stencil.slope(spark.read.parquet(land.dem_path).withColumnRenamed("z", "px"))
            .agg(F.count(F.lit(1)).alias("n")))
        op.items = self.sizes.images
        op.result = (stats, assigned, slope_n[0]["n"])

    def _stages(self, root: str) -> dict[str, dict]:
        spark, land, tr = self.spark, self.land, self.run.tracer
        store = LineageStore(spark, root)
        bucket = F.pmod(F.xxhash64("image_id"), F.lit(pipelines.N_BUCKETS))
        out = {}
        with tr.span("lineage.images"):
            images = spark.read.parquet(land.images_path).withColumn("bucket", bucket)
            out["images"] = store.run_stage("images", images, "bucket", payload_col="bytes")
        with tr.span("lineage.tiles"):
            tiles = spark.read.parquet(land.tiles_path).withColumn(
                "cell_parent", datagen.parent_cell_udf(pipelines.PARENT_RES)(F.col("cell_r7")))
            out["tiles"] = store.run_stage("tiles", tiles, "cell_parent")
        with tr.span("lineage.assign"):
            assigned = assign.assign_tiles(
                store.read_stage("tiles"), spark.read.parquet(land.aoi_path)
            ).withColumn("cell_parent",
                         datagen.parent_cell_udf(pipelines.ASSIGN_PARENT_RES)(F.col("cell_r7")))
            out["assign"] = store.run_stage("assign", assigned, "cell_parent")
        with tr.span("lineage.index_stats"):
            stats = pyscan.index_stats_scan(spark, f"{root}/images", inputs.INDEX_NAMES)
            out["index_stats"] = store.run_stage(
                "index_stats", stats.withColumn("bucket", bucket), "bucket")
        return out

    def corrupt(self, op: Op) -> None:
        stats, assigned, n = op.result
        r = stats[0]
        stats[0] = type(r)(*r[:2], r[2] + 1.0, *r[3:])

    # -------------------------------------------------------------- checks
    def expected_index(self) -> tuple[dict, list[str]]:
        """Closed-form oracle for raw8/png (lossless).  A jpeg image must
        decode with PSNR >= 40 dB against its closed-form pixels; its stats
        are then recomputed from the decoded pixels.  -> (stats, low-PSNR ids)"""
        want, low = {}, []
        needs = indices.needed_bands(inputs.INDEX_NAMES)
        for i in self.land.ids.tolist():
            h, w = datagen.image_dims(i)
            iid = inputs.image_id(i)
            if datagen.image_fmt(i) != "jpeg":
                for n, v in indices.oracle_index_stats(i, h, w, inputs.INDEX_NAMES).items():
                    want[(iid, n)] = v
                continue
            orig = codecs.make_image(i, h, w)
            dec = codecs.decode(codecs.encode(orig, "jpeg"), "jpeg", h, w)
            if codecs.psnr(orig, dec) < 40.0:
                low.append(iid)
            img = dec.astype(np.float32)
            bands = {b: indices.to_reflectance(img[indices.PLANE_OF[b]]) for b in needs}
            for n in inputs.INDEX_NAMES:
                v = indices.INDEX_REGISTRY[n][1](bands).astype(np.float64)
                want[(iid, n)] = (float(v.mean()), float(v.min()), float(v.max()))
        return want, low

    def expected_assign(self) -> set[tuple[str, str, int, int]]:
        """Tile-center-in-AOI by the half-open ray-cast rule, vectorised over
        all tiles per AOI; centers from the scene bbox as tools/make_golden.py
        derives them."""
        cxs, cys, keys = [], [], []
        for i in self.land.ids.tolist():
            h, w = datagen.image_dims(i)
            bx0, by0, bx1, by1 = (float(v[0]) for v in datagen.scene_bbox(np.array([i])))
            ntx, nty = w // datagen.TILE, h // datagen.TILE
            dx, dy = (bx1 - bx0) / ntx, (by1 - by0) / nty
            for ty in range(nty):
                for tx in range(ntx):
                    cxs.append(bx0 + tx * dx + dx / 2)
                    cys.append(by1 - (ty + 1) * dy + dy / 2)
                    keys.append((inputs.image_id(i), tx, ty))
        cx, cy = np.array(cxs), np.array(cys)
        out = set()
        for aoi_id, wkt in zip(self.land.aoi["aoi_id"], self.land.aoi["geom_wkt"]):
            inside = pip.points_in_polygon(cx, cy, pip.parse_wkt_polygon(wkt))
            out.update((aoi_id, *keys[k]) for k in np.flatnonzero(inside))
        return out

    def check(self, ops: list[Op]) -> None:
        want_idx, low_psnr = self.expected_index()
        want_assign = self.expected_assign()
        want_rows = {"images": self.sizes.images, "tiles": len(self.land.tiles),
                     "assign": len(want_assign),
                     "index_stats": len(inputs.INDEX_NAMES) * self.sizes.images}
        for op in ops:
            if op.result is None:
                continue
            if op.name == "iteration":
                self._check_iteration(op, want_idx, low_psnr, want_assign)
            elif op.name == "lineage_resume":
                for st in STAGES:
                    res = op.result[1][st]
                    if res["rows_written"] != 0 or not res["skipped"]:
                        op.problems.append(f"resume recomputed {res['rows_written']} {st} rows")
            else:
                root, res = op.result
                store = LineageStore(self.spark, root)
                lin = {r["stage"]: r["rows"] for r in store.metrics().collect()}
                for st in STAGES:
                    written = res[st]["rows_written"]
                    on_disk = store.read_stage(st).count()
                    if not (written == on_disk == lin.get(st) == want_rows[st]):
                        op.problems.append(f"{st}: wrote {written}, on disk {on_disk}, "
                                           f"lineage {lin.get(st)}, expected {want_rows[st]}")

    def _check_iteration(self, op, want_idx, low_psnr, want_assign) -> None:
        stats, assigned, n_slope = op.result
        if low_psnr:
            op.problems.append(f"jpeg PSNR < 40 dB for {len(low_psnr)} images")
        got = {(r["image_id"], r["index_name"]): (r["mean"], r["min"], r["max"]) for r in stats}
        if len(stats) != len(want_idx) or got != want_idx:
            diff = sum(1 for k in want_idx if got.get(k) != want_idx[k])
            op.problems.append(f"index stats: {len(stats)} rows, {diff} of "
                               f"{len(want_idx)} expected differ")
        got_a = {(r["aoi_id"], r["image_id"], r["tile_x"], r["tile_y"]) for r in assigned}
        if len(assigned) != len(want_assign) or got_a != want_assign:
            op.problems.append(f"assign: {len(assigned)} rows vs {len(want_assign)} expected")
        if n_slope != len(self.land.dem):
            op.problems.append(f"slope: {n_slope} tiles vs {len(self.land.dem)}")

    # -------------------------------------------------------------- layers
    def layers(self, ops: list[Op]) -> dict[str, float]:
        run, tr = self.run, self.run.tracer
        warm = [o for o in ops if o.kind == "warm" and o.result is not None]
        out = {}
        plan_t = []
        for _ in range(5):
            with tr.span("pyscan.parquet_splits") as sp:
                splits = pyscan.parquet_splits(self.land.images_path)
            plan_t.append(sp.seconds)
        out["pyscan.plan_s"] = median(plan_t)
        out["pyscan.splits"] = len(splits)
        out["pyscan.scan_s"] = run.layer_median(warm, "pyscan.index_stats_scan")
        out["pyscan.bytes_read"] = split_bytes(splits, ["image_id", "bytes", "fmt", "h", "w"])
        out["assign.s"] = run.layer_median(warm, "assign.assign_tiles")
        rows = len(warm[0].result[1]) if warm else 0
        cand = run.sql_rows(warm, "assign.assign_tiles", joins)
        out["assign.candidates"] = cand
        out["assign.rows"] = rows
        out["assign.refine_yield"] = rows / cand if cand else 0.0
        out["stencil.s"] = run.layer_median(warm, "stencil.slope")
        out["stencil.tiles"] = run.sql_rows(warm, "stencil.slope", counted_input)
        out["stencil.shuffle_bytes"] = run.per_span(warm, "stencil.slope", "shuffle_write_bytes")

        fresh = [o for o in ops if o.name == "lineage_fresh" and o.result is not None]
        resume = [o for o in ops if o.name == "lineage_resume" and o.result is not None]
        for st in STAGES:
            out[f"lineage.stage_s.{st}"] = run.layer_median(fresh, f"lineage.{st}")
        if fresh:
            root, res = fresh[-1].result
            out["lineage.rows_committed"] = sum(res[st]["rows_written"] for st in STAGES)
            out["lineage.keys_committed"] = sum(res[st]["keys_committed"] for st in STAGES)
            out["lineage.bytes_written"] = sum(
                p.stat().st_size for p in Path(root).rglob("*") if p.is_file())
            out["lineage.files_written"] = sum(
                1 for p in Path(root).rglob("*.parquet") if p.is_file())
        out["lineage.resume_s"] = median(o.seconds for o in resume)
        out["lineage.resume_rows_recomputed"] = sum(
            o.result[1][st]["rows_written"] for o in resume for st in STAGES)
        return out

    def cleanup(self) -> None:
        for r in self.roots:
            shutil.rmtree(r, ignore_errors=True)


def split_bytes(splits, columns: list[str]) -> int:
    """Compressed bytes of ``columns`` over the row groups of ``splits``."""
    import pyarrow.parquet as pq

    total = 0
    for f, rg0, rg1 in splits:
        meta = pq.ParquetFile(f).metadata
        for g in range(rg0, rg1 if rg1 >= 0 else meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                if rg.column(c).path_in_schema in columns:
                    total += rg.column(c).total_compressed_size
    return total


def joins(plan: dict) -> list[dict]:
    """The join nodes of a logged plan.  In assign_tiles' plan that is the
    coarse cell equi-join, whose output rows are the candidate (AOI, tile)
    pairs left after the bbox prefilter Spark folds into the join; the
    ray-cast refine keeps ``assign.rows`` of them."""
    return [n for n in trace.plan_nodes(plan) if n["nodeName"].endswith("Join")]


def counted_input(plan: dict) -> list[dict]:
    """The first metric-bearing node below the partial half of the count
    the benchmark appends to stencil.slope: the slope output it counts."""
    aggs = 0
    for n in trace.plan_nodes(plan):
        if n["nodeName"] == "HashAggregate":
            aggs += 1
        elif aggs == 2 and any(m["name"] == "number of output rows" for m in n["metrics"]):
            return [n]
    return []


# ----------------------------------------------------------- scene queries
class SceneQueries(Workload):
    """The eight bench.BENCH_QUERIES over the repository's test tables at
    scale ``sizes`` (a testdata directory name such as ``sf0.01``); each
    round runs all eight in an order drawn from the seed.  The first round
    is cold."""

    name = "scene_queries"

    def __init__(self, run, sizes) -> None:
        super().__init__(run, sizes)
        import __spark_entry__
        import bench

        self.names = list(bench.BENCH_QUERIES)
        self.queries = __spark_entry__.queries()
        self.rng = np.random.default_rng(run.seed)
        self.sf_dir = str(inputs.TESTDATA / sizes)

    def input_sizes(self) -> dict[str, int]:
        import pyarrow.parquet as pq

        rows = {f.stem: pq.ParquetFile(f).metadata.num_rows
                for f in sorted(Path(self.sf_dir).glob("*.parquet"))}
        return {**rows, "table_bytes": inputs.dir_stats(self.sf_dir)[0]}

    def write_inputs(self, root: Path) -> None:
        """The test tables are read in place; nothing is written."""

    def _round(self) -> list[str]:
        return [self.names[k] for k in self.rng.permutation(len(self.names))]

    def cold_ops(self) -> list[str]:
        return self._round()

    def warm_ops(self):
        while True:
            yield from self._round()

    def execute(self, op: Op) -> None:
        op.result, df = self.run.action(f"query.{op.name}",
                                        lambda: self.queries[op.name](self.spark, self.sf_dir))
        op.columns = df.columns
        op.items = 1

    def corrupt(self, op: Op) -> None:
        op.result = op.result[1:]

    def p50_s(self, warm: list[Op]) -> float:
        """Geometric mean over the queries of each query's warm median."""
        meds = [median(o.seconds for o in warm if o.name == n) for n in self.names]
        meds = [m for m in meds if m > 0]
        return float(np.exp(np.mean(np.log(meds)))) if meds else 0.0

    def check(self, ops: list[Op]) -> None:
        import duckdb

        sys.path.insert(0, str(self.run.root / "tools"))
        from check_oracle import dtype_kind, normalize

        oracles = self.oracle_texts()
        con = duckdb.connect()
        for f in sorted(Path(self.sf_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
        first: dict[str, str] = {}
        for op in ops:
            if op.result is None:
                continue
            got = normalize(pd.DataFrame.from_records(
                [tuple(r) for r in op.result], columns=op.columns))
            digest = hashlib.sha256(pd.util.hash_pandas_object(got, index=False).values).hexdigest()
            if op.kind == "cold":
                want = normalize(con.execute(oracles[op.name]).df())
                problem = compare(got, want, dtype_kind)
                if problem:
                    op.problems.append(f"{op.name} vs DuckDB oracle: {problem}")
                first[op.name] = digest
            elif digest != first.get(op.name):
                op.problems.append(f"{op.name}: warm result differs from round 1")
        con.close()

    def oracle_texts(self) -> dict[str, str]:
        """The eight queries' ``oracle_sql()`` texts.  Building oracle_sql()
        renders all of the repo's oracles (tens of seconds), so the eight
        texts are cached in the work directory, keyed by a hash of the entry
        module and the library sources."""
        h = hashlib.sha256()
        root = self.run.root
        for f in [root / "__spark_entry__.py", *sorted((root / "eoreader_spark").rglob("*.py"))]:
            h.update(f.read_bytes())
        cache = root / ".perfbench_work" / f"oracles-{h.hexdigest()[:16]}.json"
        if cache.is_file():
            return json.loads(cache.read_text())
        import __spark_entry__

        every = __spark_entry__.oracle_sql()
        texts = {n: every[n] for n in self.names}
        cache.write_text(json.dumps(texts))
        return texts

    def layers(self, ops: list[Op]) -> dict[str, float]:
        out = {}
        for n in self.names:
            out[f"query.{n}.p50_s"] = median(
                o.seconds for o in ops if o.name == n and o.kind == "warm")
            out[f"query.{n}.first_s"] = sum(
                o.seconds for o in ops if o.name == n and o.kind == "cold")
        knn = [o for o in ops if o.name == "knn" and o.kind == "warm"]
        out["knn.jobs"] = self.run.per_span(knn, "query.knn", "jobs")
        out["knn.candidate_rows"] = self.run.per_span(knn, "query.knn", "shuffle_records")
        return out


def compare(got: pd.DataFrame, want: pd.DataFrame, dtype_kind) -> str | None:
    """tools/check_oracle.py's comparison: columns, row count, dtype kind,
    then exact values."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if len(got) == 0:
        return None  # rows built from an empty collect carry no dtypes
    for c in got.columns:
        if dtype_kind(got[c].dtype) != dtype_kind(want[c].dtype):
            return f"dtype of {c}: {got[c].dtype} vs {want[c].dtype}"
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind in "OUSbiu":
            eq = a == b
        else:
            eq = np.isclose(a.astype(np.float64), b.astype(np.float64), rtol=0, atol=0,
                            equal_nan=True)
        if not np.all(eq):
            i = int(np.argmin(eq))
            return f"col {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


WORKLOADS = {w.name: w for w in (Ingest, SceneQueries)}

"""The workloads. Each one generates its seeded inputs and numpy
references (benchmark-side, before set-up), loads them into a session
(set-up), produces one result at a time, checks each result, and folds
a traced result's spans into its per-layer metrics."""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import corpus
import planfold
from harness import WORK, host_cores

SRC_BS = 256


def _span(spans, name):
    return next(s for s in spans if s.name == name)


def _jobs(span) -> int:
    return span.jobs.get("jobs", 0)


def _writes(span) -> dict:
    """Write commands of one span by the last path component written:
    {name: (metrics of the command node, seconds)}."""
    out = {}
    for tree, (_, desc, secs) in zip(span.plans, span.durations):
        if tree.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
            path = desc.split()[2].rstrip(",")
            out[path.rstrip("/").rsplit("/", 1)[-1]] = (tree.metrics, secs)
    return out


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


class Workload:
    name = ""

    def __init__(self, seed: int):
        self.seed = seed
        self.root = WORK / "in"

    def generate(self) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        """Per-session set-up: make the inputs known to the session."""
        raise NotImplementedError

    def result(self, spark, tr, i: int) -> float:
        """Produce result ``i``; returns the output megapixels."""
        raise NotImplementedError

    def check(self, spark, i: int) -> bool:
        raise NotImplementedError

    def layers(self, spans) -> dict:
        """Per-layer metrics of one traced result."""
        return {}

    def probes(self, spark, tr) -> dict:
        """Per-layer metrics from direct calls into single layers, made
        once per traced run."""
        return {}


# ---------------------------------------------------------------------------
# mosaic_full, and the relayout path as a probe of its traced run
# ---------------------------------------------------------------------------

class MosaicFull(Workload):
    """do_mosaic + write_mosaic of a 4 x 4 grid of 1024^2 u2 rasters with
    16-px overlaps (16.4 Mpx) into 16 tiles of 1024^2, with two overview
    levels and stats: every layer runs."""

    name = "mosaic_full"
    GRID, RSIZE, TILE, CELL, MIN_OVERVIEW = 4, 1024, 1024, 4096, 256
    RELAYOUT, BUCKETS = "perfbench_relayout", 128

    def generate(self) -> None:
        self.rasters = corpus.make_raster_grid(self.seed, self.GRID, self.RSIZE)
        self.truth = corpus.mosaic_truth(self.rasters, self.TILE)
        corpus.write_tables(str(self.root), corpus.footprints_table(self.rasters),
                            corpus.blocks_table(self.rasters, SRC_BS), 2 * host_cores())
        self.mpx = self.truth.nrows * self.truth.ncols / 1e6

    def config(self):
        from moamosaic_spark.mosaic import MosaicConfig

        return MosaicConfig(blocksize=self.TILE, src_blocksize=SRC_BS,
                            min_overview_size=self.MIN_OVERVIEW, strategy="cell",
                            cell_size_px=self.CELL)

    def load(self, spark) -> None:
        self.fp = spark.read.parquet(str(self.root / "footprints"))
        self.blocks = spark.read.parquet(str(self.root / "blocks"))

    def result(self, spark, tr, i: int) -> float:
        from moamosaic_spark.mosaic import do_mosaic, write_mosaic

        with tr.span("mosaic.summary"):
            res = do_mosaic(spark, self.fp, self.blocks, self.config())
        with tr.span("mosaic.write_mosaic"):
            write_mosaic(res, str(WORK / "out"))
        self.grid, self.levels = res.grid, res.levels
        return self.mpx

    def _md5_ok(self, rows) -> bool:
        return {(r[0], r[1]): r[2] for r in rows} == self.truth.tile_md5

    def check(self, spark, i: int) -> bool:
        out = str(WORK / "out")
        rows = spark.read.parquet(f"{out}/tiles").select(
            "tile_row", "tile_col", F.md5("pixels")).collect()
        st = spark.read.parquet(f"{out}/stats").collect()
        return (self._md5_ok(rows) and len(st) == 1 and corpus.stats_match(
            (st[0]["minval"], st[0]["maxval"], st[0]["meanval"], st[0]["stddev"],
             st[0]["count"]), self.truth.stats))

    def _stitch_layers(self, spans) -> dict:
        m = planfold.fold_stitch([p for s in spans for p in s.plans])
        m["shuffle.compression_ratio"] = _ratio(m["shuffle.bytes_written"],
                                                m["shuffle.data_bytes"])
        m["clip.rows_out"] = m["stitch.rows_in"]
        m["clip.useful_byte_ratio"] = _ratio(2 * self.truth.valid_px,
                                             m["shuffle.data_bytes"])
        m["stitch.groups"] = len(self.truth.tile_md5)
        m["summary.s"] = _span(spans, "mosaic.summary").seconds
        m["summary.jobs"] = _jobs(_span(spans, "mosaic.summary"))
        return m

    def layers(self, spans) -> dict:
        m = self._stitch_layers(spans)
        sink = _span(spans, "mosaic.write_mosaic")
        w = _writes(sink)
        m.update({
            "sink.s": sink.seconds,
            "sink.jobs": _jobs(sink),
            "sink.files": sum(v[0].get("numFiles", 0) for v in w.values()),
            "sink.bytes_written": sum(v[0].get("numOutputBytes", 0) for v in w.values()),
            "stats.s": w["stats"][1],
            "pyramid.s": w["overviews"][1],
            "pyramid.rows": w["overviews"][0].get("numOutputRows", 0),
            "pyramid.bytes_written": w["overviews"][0].get("numOutputBytes", 0),
        })
        return m

    def probes(self, spark, tr) -> dict:
        """Grid and spatial join called directly, the relayout path, the
        incremental ingest, and the stitch kernel with no Spark at all."""
        from moamosaic_spark.plans.grid import make_tile_relation
        from moamosaic_spark.plans.spatial_join import assign_inputs

        cfg = self.config()
        with tr.result() as spans:
            with tr.span("plans.grid"):
                tiles = make_tile_relation(spark, self.grid, cfg.blocksize)
                n_tiles = tiles.count()
            with tr.span("plans.spatial_join"):
                asg = assign_inputs(tiles, self.fp, self.grid, strategy=cfg.strategy,
                                    cell_size_px=cfg.cell_size_px, salt=cfg.salt,
                                    blocksize=cfg.blocksize)
                rows = asg.count()
            covered = asg.select("tile_row", "tile_col").distinct().count()
        grid_span, join = _span(spans, "plans.grid"), _span(spans, "plans.spatial_join")
        m = self.relayout_probe(spark, tr)
        m.update(IngestProbe(self.seed).run(spark, tr))
        m.update({
            "grid.tiles": n_tiles,
            "grid.gap_tiles": n_tiles - covered,
            "grid.jobs": _jobs(grid_span),
            "spatial_join.s": join.seconds,
            "spatial_join.rows": rows,
            "spatial_join.jobs": _jobs(join),
            "spatial_join.broadcast_bytes": planfold.sum_metric(
                join.plans, "BroadcastExchange", "dataSize"),
            "stitch.kernel_ms_per_tile": self.kernel_ms(),
        })
        return m

    def relayout_probe(self, spark, tr, reruns: int = 3) -> dict:
        """The same corpus through do_mosaic(relayout_table=...): the first
        call builds the bucketed relayout, each later one is a
        tile-checksum collect with no sink, checked like a result, and
        timed against the same collect through the direct path. The
        stitch shuffle is bypassed, so relayout.shuffle_bytes reads 0."""
        from moamosaic_spark.mosaic import do_mosaic

        cfg = self.config()
        cfg.relayout_table, cfg.relayout_buckets = self.RELAYOUT, self.BUCKETS
        with tr.result() as spans:
            with tr.span("sources.relayout"):
                do_mosaic(spark, self.fp, self.blocks, cfg)
        build = _span(spans, "sources.relayout")

        def checksums(config):
            with tr.result() as spans:
                with tr.span("mosaic.summary"):
                    res = do_mosaic(spark, self.fp, self.blocks, config)
                with tr.span("operators.stitch"):
                    rows = res.tiles.select("tile_row", "tile_col", F.md5("pixels")).collect()
            if not self._md5_ok(rows):
                raise AssertionError("checksum collect differs from the reference")
            return spans, _span(spans, "mosaic.summary").seconds + _span(
                spans, "operators.stitch").seconds

        samples = []
        for _ in range(reruns):
            spans, secs = checksums(cfg)
            stitch = _span(spans, "operators.stitch")
            folded = planfold.fold_stitch(stitch.plans)
            samples.append({
                "relayout.result_s": secs,
                "relayout.direct_s": checksums(self.config())[1],
                "relayout.stitch_tasks": stitch.jobs.get("max_stage_tasks", 0),
                "relayout.scan_bytes": folded["stitch.scan_bytes"],
                "relayout.shuffle_bytes": folded["shuffle.bytes_written"],
            })
        table = next(WORK.glob(f"warehouse-*/{self.RELAYOUT}"))
        out = {k: median(s[k] for s in samples) for k in samples[0]}
        out.update({"relayout.build_s": build.seconds, "relayout.jobs": _jobs(build),
                    "relayout.buckets": len(list(table.glob("*.parquet")))})
        return out

    def kernel_ms(self) -> float:
        """The stitch kernel on one in-memory Arrow group (tile (1, 1),
        unclipped source chunks), no Spark: median of 7 calls, in ms."""
        from moamosaic_spark.operators.stitch import make_stitch_fn_arrow

        fn = make_stitch_fn_arrow(self.grid, self.levels, "last", binary=True)
        t = self.TILE
        tbl = corpus.kernel_group(self.rasters, t, t, t, t, SRC_BS)
        times = []
        for _ in range(7):
            t0 = time.perf_counter()
            fn((1, 1, 1), tbl)
            times.append(time.perf_counter() - t0)
        return 1e3 * median(times)


# ---------------------------------------------------------------------------
# the incremental ingest, measured as a probe of the mosaic_full traced run
# ---------------------------------------------------------------------------

class IngestProbe:
    """process_batch over interleaved-document micro-batches that add
    small rasters to a sparse catalog over a large grid; each batch's
    sink is checked against a from-scratch paste of every raster seen."""

    EXTENT, RSIZE, N_RASTERS, PER_BATCH, TILE = 6144, 384, 8, 4, 512

    def __init__(self, seed: int):
        self.seed = seed
        self.root = WORK / "ingest"

    def generate(self) -> None:
        self.rasters = corpus.make_sparse_catalog(self.seed, self.N_RASTERS, self.RSIZE,
                                                  self.EXTENT)
        corpus.write_tables(str(self.root), corpus.footprints_table(self.rasters),
                            corpus.blocks_table(self.rasters, SRC_BS), 2 * host_cores())
        self.batches = []
        for b in range(0, self.N_RASTERS, self.PER_BATCH):
            part = self.rasters[b:b + self.PER_BATCH]
            path = self.root / f"docs/batch-{b // self.PER_BATCH:03d}"
            os.makedirs(path)
            pq.write_table(corpus.documents(self.seed + b, [r.media_ref for r in part],
                                            first_doc=1000 * b), f"{path}/part-0.parquet")
            self.batches.append((path, part))
        self.edges = corpus.block_edges(self.EXTENT, self.TILE)
        self.canvas = np.zeros((self.EXTENT, self.EXTENT), np.uint16)
        self.expect = {}

    def config(self):
        from moamosaic_spark.mosaic import MosaicConfig

        return MosaicConfig(blocksize=self.TILE, src_blocksize=SRC_BS,
                            min_overview_size=self.TILE, strategy="cell",
                            cell_size_px=2048)

    def _touched(self, r) -> set:
        t, nb = self.TILE, len(self.edges)
        rows = range(r.row0 // t, min(nb, -(-(r.row0 + r.pixels.shape[0]) // t)))
        cols = range(r.col0 // t, min(nb, -(-(r.col0 + r.pixels.shape[1]) // t)))
        return {(a, b) for a in rows for b in cols}

    def batch(self, spark, tr, b: int) -> dict:
        from moamosaic_spark.streaming.incremental import process_batch

        fp = spark.read.parquet(str(self.root / "footprints"))
        blocks = spark.read.parquet(str(self.root / "blocks"))
        path, new = self.batches[b]
        out = str(self.root / "out")
        with tr.result() as spans:
            with tr.span("streaming.incremental"):
                info = process_batch(spark.read.parquet(str(path)), b, spark, fp, blocks,
                                     out, self.config())
        inc = _span(spans, "streaming.incremental")
        rewritten = _writes(inc)["tiles"][0].get("numOutputRows", 0)
        touched = set().union(*(self._touched(r) for r in new))
        # the sink must equal a from-scratch paste of every raster seen
        corpus.paste(self.canvas, new)
        for (a, c) in touched:
            (top, ys), (left, xs) = self.edges[a], self.edges[c]
            self.expect[(a, c)] = corpus.tile_md5(self.canvas, top, left, ys, xs)
        rows = spark.read.parquet(f"{out}/tiles").select(
            "tile_row", "tile_col", F.md5("pixels")).collect()
        if ({(r[0], r[1]): r[2] for r in rows} != self.expect or len(rows) != len(self.expect)
                or info["tiles_written"] != len(touched)):
            raise AssertionError(f"incremental sink differs from the reference at batch {b}")
        return {
            "incremental.s": inc.seconds,
            "incremental.jobs": _jobs(inc),
            "incremental.touched_tiles": info["tiles_written"],
            "incremental.rewritten_tiles": rewritten,
            "incremental.useful_rewrite_ratio": _ratio(info["tiles_written"], rewritten),
        }

    def run(self, spark, tr) -> dict:
        """All batches in order; the last one's metrics (a warm batch
        into a sink that already holds tiles), plus the docs rank called
        directly on that batch's documents."""
        from moamosaic_spark.sources.docs import dense_global_rank, media_first_seen

        self.generate()
        for b in range(len(self.batches)):
            m = self.batch(spark, tr, b)
        docs = spark.read.parquet(str(self.batches[-1][0]))
        with tr.result() as spans:
            with tr.span("sources.docs"):
                dense_global_rank(media_first_seen(docs), "first_seen", "priority").collect()
        rank = _span(spans, "sources.docs")
        m.update({"docs.rank_s": rank.seconds, "docs.rank_jobs": _jobs(rank)})
        return m


# ---------------------------------------------------------------------------
# derived_basins
# ---------------------------------------------------------------------------

class DerivedBasins(Workload):
    """terrain -> d8_edges -> flow_basins -> flow_accumulation over a
    seeded 128^2 DEM in 64^2 tiles."""

    name = "derived_basins"
    N, TILE = 128, 64

    def generate(self) -> None:
        from moamosaic_spark.functions.focal import D8_DIAG_W, D8_DIRS, D8_FLAT

        dem = corpus.make_dem(self.seed, self.N)
        k = self.N // self.TILE
        cells = [(tr, tc) for tr in range(k) for tc in range(k)]
        t = self.TILE
        tiles = pa.table({
            "band": pa.array([1] * len(cells), pa.int32()),
            "tile_row": pa.array([c[0] for c in cells], pa.int32()),
            "tile_col": pa.array([c[1] for c in cells], pa.int32()),
            "ysize": pa.array([t] * len(cells), pa.int32()),
            "xsize": pa.array([t] * len(cells), pa.int32()),
            "pixels": pa.array([dem[a * t:(a + 1) * t, b * t:(b + 1) * t].astype("<u2").tobytes()
                                for a, b in cells], pa.binary()),
        })
        os.makedirs(self.root / "dem")
        per = -(-len(cells) // host_cores())
        for i in range(0, len(cells), per):
            pq.write_table(tiles.slice(i, per), f"{self.root}/dem/part-{i}.parquet")
        d8 = corpus.d8_grid(dem, D8_DIRS, D8_DIAG_W, D8_FLAT)
        self.truth = corpus.hydro_truth(d8, D8_DIRS, D8_FLAT)

    def load(self, spark) -> None:
        self.tiles = spark.read.parquet(str(self.root / "dem"))

    def result(self, spark, tr, i: int) -> float:
        from moamosaic_spark.functions.focal import terrain
        from moamosaic_spark.functions.hydro import d8_edges, flow_accumulation, flow_basins

        with tr.span("functions.focal"):
            edges = d8_edges(terrain(self.tiles, xres=10.0, yres=10.0, nullval=0),
                             g_ncols=self.N, blocksize=self.TILE).persist()
            edges.count()
        with tr.span("functions.hydro.flow_basins"):
            self.basins = flow_basins(edges).persist()
            self.basins.count()
        with tr.span("functions.hydro.flow_accumulation"):
            self.acc = flow_accumulation(edges).persist()
            self.acc.count()
        self.held = (edges, self.basins, self.acc)
        return self.N * self.N / 1e6

    def check(self, spark, i: int) -> bool:
        try:
            gid, basin, dist, acc, outlets = self.truth
            b = self.basins.where("is_cell").select("gid", "basin", "dist").toPandas()
            b = b.sort_values("gid")
            a = self.acc.where("is_cell").select("gid", "acc").toPandas().sort_values("gid")
            got_out = {int(r.gid): int(r.acc)
                       for r in self.acc.where("NOT is_cell").collect()}
        finally:
            for df in self.held:
                df.unpersist()
        return (len(b) == len(gid) and (b["gid"].to_numpy() == gid).all()
                and (b["basin"].to_numpy() == basin).all()
                and (b["dist"].to_numpy() == dist).all()
                and len(a) == len(gid) and (a["gid"].to_numpy() == gid).all()
                and (a["acc"].to_numpy() == acc).all() and got_out == outlets)

    def layers(self, spans) -> dict:
        focal = _span(spans, "functions.focal")
        basins = _span(spans, "functions.hydro.flow_basins")
        acc = _span(spans, "functions.hydro.flow_accumulation")
        halo = [n for t in focal.plans for n in t.walk()
                if n.name == "Exchange" and "hashpartitioning(band" in n.desc]
        return {
            "focal.terrain_s": focal.seconds,
            "focal.jobs": _jobs(focal),
            "focal.halo_bytes": sum(n.metrics.get("shuffleBytesWritten", 0) for n in halo),
            "hydro.basins_s": basins.seconds,
            "hydro.basins_jobs": _jobs(basins),
            "hydro.accumulation_s": acc.seconds,
            "hydro.accumulation_jobs": _jobs(acc),
        }


WORKLOADS = {w.name: w for w in (MosaicFull, DerivedBasins)}

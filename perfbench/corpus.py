"""Seeded inputs for the benchmark workloads, and their numpy references.

Everything here is plain numpy/pyarrow: the engine only ever sees the
tables these functions write. Pixels are a smooth field (separable
sinusoids over world coordinates, so overlapping rasters agree on the
broad shape) plus per-raster noise and seeded nodata holes, which gives
the u2 payload a realistic entropy instead of a compressible ramp.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROJECTION = "EPSG:32756"
RES = 10.0
NULLVAL = 0
X_ORIGIN, Y_ORIGIN = 300000.0, 7000000.0

FOOTPRINT_FIELDS = [
    ("media_ref", pa.string()), ("priority", pa.int32()),
    ("x0", pa.float64()), ("y0", pa.float64()),
    ("x_res", pa.float64()), ("y_res", pa.float64()),
    ("ncols", pa.int32()), ("nrows", pa.int32()), ("n_bands", pa.int32()),
    ("dtype", pa.string()), ("nullval", pa.float64()), ("projection", pa.string()),
]
BLOCK_FIELDS = [
    ("media_ref", pa.string()), ("band", pa.int32()),
    ("b_row", pa.int32()), ("b_col", pa.int32()),
    ("b_top", pa.int32()), ("b_left", pa.int32()),
    ("b_ysize", pa.int32()), ("b_xsize", pa.int32()),
    ("pixels", pa.binary()),
]


@dataclass
class Raster:
    media_ref: str
    row0: int          # top-left in global canvas pixels
    col0: int
    pixels: np.ndarray  # uint16 (nrows, ncols), 0 = nodata

    @property
    def x0(self) -> float:
        return X_ORIGIN + self.col0 * RES

    @property
    def y0(self) -> float:
        return Y_ORIGIN - self.row0 * RES


def smooth_field(rng, rows: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Separable sum of four sinusoids over global pixel coordinates,
    float64, around 20000. The wavelengths (250 to 3000 px), phases and
    amplitudes are seeded."""
    f = np.full((rows.size, cols.size), 20000.0)
    for _ in range(4):
        fy, fx = rng.uniform(1 / 3000, 1 / 250, size=2)
        py, px = rng.uniform(0, 2 * np.pi, size=2)
        a = 3000.0 * rng.uniform(0.5, 1.0)
        f += a * np.outer(np.cos(2 * np.pi * fy * rows + py),
                          np.sin(2 * np.pi * fx * cols + px))
    return f


def _holes(rng, arr: np.ndarray, n: int, max_r: int) -> None:
    """Punch ``n`` seeded rectangular nodata holes into ``arr`` in place."""
    ny, nx = arr.shape
    for _ in range(n):
        h, w = (int(v) for v in rng.integers(4, max_r, size=2))
        t, l = int(rng.integers(0, ny - h)), int(rng.integers(0, nx - w))
        arr[t:t + h, l:l + w] = NULLVAL


def make_raster_grid(seed: int, n: int, size: int) -> list[Raster]:
    """``n`` x ``n`` rasters of ``size``^2 px on one 10 m grid, each
    overlapping its neighbours by 16 px, with +-48 noise and six nodata
    holes each, listed in a seeded priority order (so the merge order is
    not the raster order)."""
    rng = np.random.default_rng(seed)
    stride = size - 16
    field_rng = np.random.default_rng(rng.integers(1 << 62))
    extent = (n - 1) * stride + size
    world = np.arange(extent, dtype=np.float64)
    full = smooth_field(field_rng, world, world)
    out = []
    for k in rng.permutation(n * n):
        r0, c0 = int(k // n) * stride, int(k % n) * stride
        px = full[r0:r0 + size, c0:c0 + size] + rng.integers(-48, 49, size=(size, size))
        arr = np.clip(px, 1, 65535).astype(np.uint16)
        _holes(rng, arr, 6, max(8, size // 8))
        out.append(Raster(f"r{int(k):04d}", r0, c0, arr))
    return out


def footprints_table(rasters: list[Raster]) -> pa.Table:
    """The footprints dim table; priority is the list order."""
    rows = {name: [] for name, _ in FOOTPRINT_FIELDS}
    for i, r in enumerate(rasters):
        vals = dict(
            media_ref=r.media_ref, priority=i, x0=r.x0, y0=r.y0,
            x_res=RES, y_res=RES, ncols=r.pixels.shape[1], nrows=r.pixels.shape[0],
            n_bands=1, dtype="uint16", nullval=float(NULLVAL), projection=PROJECTION,
        )
        for k, v in vals.items():
            rows[k].append(v)
    return pa.table({k: pa.array(v, t) for (k, t), v in zip(FOOTPRINT_FIELDS, rows.values())})


def blocks_table(rasters: list[Raster], src_bs: int) -> pa.Table:
    """Chunk every raster into ``src_bs``^2 u2 blocks (the engine's
    packed little-endian layout)."""
    cols = {name: [] for name, _ in BLOCK_FIELDS}
    for r in rasters:
        ny, nx = r.pixels.shape
        for br in range(-(-ny // src_bs)):
            for bc in range(-(-nx // src_bs)):
                top, left = br * src_bs, bc * src_bs
                chunk = r.pixels[top:top + src_bs, left:left + src_bs]
                for k, v in zip(cols, (r.media_ref, 1, br, bc, top, left,
                                       chunk.shape[0], chunk.shape[1],
                                       chunk.astype("<u2").tobytes())):
                    cols[k].append(v)
    return pa.table({k: pa.array(v, t) for (k, t), v in zip(BLOCK_FIELDS, cols.values())})


def write_tables(root: str, footprints: pa.Table, blocks: pa.Table,
                 files: int) -> None:
    """Parquet under ``root``/{footprints,blocks}; blocks spread over
    ``files`` files so the engine's scan has one split per core."""
    import os

    os.makedirs(f"{root}/footprints", exist_ok=True)
    os.makedirs(f"{root}/blocks", exist_ok=True)
    pq.write_table(footprints, f"{root}/footprints/part-0.parquet")
    per = -(-blocks.num_rows // files)
    for i in range(files):
        part = blocks.slice(i * per, per)
        if part.num_rows:
            pq.write_table(part, f"{root}/blocks/part-{i}.parquet")


# ---------------------------------------------------------------------------
# mosaic reference: last-non-null paste over the full canvas
# ---------------------------------------------------------------------------

def block_edges(n: int, bs: int) -> list[tuple[int, int]]:
    """The engine's tiling contract: full blocks, the last one absorbing
    a remainder shorter than bs // 4."""
    nb = max(1, (n - bs // 4) // bs + 1) if n > 0 else 0
    return [(i * bs, bs if i < nb - 1 else n - i * bs) for i in range(nb)]


@dataclass
class MosaicTruth:
    nrows: int
    ncols: int
    tile_md5: dict     # (tile_row, tile_col) -> md5 hex of the u2 payload
    stats: tuple       # (min, max, mean, stddev, count) over valid px
    valid_px: int


def paste(canvas: np.ndarray, rasters: list[Raster]) -> None:
    """Paste whole rasters in priority order, keeping each pixel's last
    non-null value (the reference merge), in place."""
    for r in rasters:
        sub = canvas[r.row0:r.row0 + r.pixels.shape[0], r.col0:r.col0 + r.pixels.shape[1]]
        m = r.pixels != NULLVAL
        sub[m] = r.pixels[m]


def tile_md5(canvas: np.ndarray, top: int, left: int, ys: int, xs: int) -> str:
    t = np.ascontiguousarray(canvas[top:top + ys, left:left + xs]).astype("<u2")
    return hashlib.md5(t.tobytes()).hexdigest()


def tile_md5s(canvas: np.ndarray, bs: int) -> dict:
    return {(ti, tj): tile_md5(canvas, top, left, ys, xs)
            for ti, (top, ys) in enumerate(block_edges(canvas.shape[0], bs))
            for tj, (left, xs) in enumerate(block_edges(canvas.shape[1], bs))}


def mosaic_truth(rasters: list[Raster], bs: int) -> MosaicTruth:
    nrows = max(r.row0 + r.pixels.shape[0] for r in rasters)
    ncols = max(r.col0 + r.pixels.shape[1] for r in rasters)
    canvas = np.full((nrows, ncols), NULLVAL, np.uint16)
    paste(canvas, rasters)
    v = canvas[canvas != NULLVAL].astype(np.float64)
    stats = (float(v.min()), float(v.max()), float(v.mean()), float(v.std()), int(v.size))
    return MosaicTruth(nrows, ncols, tile_md5s(canvas, bs), stats, int(v.size))


def stats_match(got: tuple, want: tuple) -> bool:
    """Engine stats are float64 partial sums combined in task order;
    compare mean/stddev to a relative 1e-9, the rest exactly."""
    gmin, gmax, gmean, gstd, gcount = got
    wmin, wmax, wmean, wstd, wcount = want
    return (gmin == wmin and gmax == wmax and gcount == wcount
            and abs(gmean - wmean) <= 1e-9 * abs(wmean)
            and abs(gstd - wstd) <= 1e-6 * max(1.0, abs(wstd)))


def kernel_group(rasters: list[Raster], top: int, left: int, ys: int, xs: int,
                 src_bs: int) -> pa.Table:
    """One stitch group as the kernel receives it: every source chunk of
    every raster that overlaps the tile window, one row per chunk. The
    kernel clamps and clips the windows itself."""
    rows = []
    for prio, r in enumerate(rasters):
        ny, nx = r.pixels.shape
        in_top, in_left = top - r.row0, left - r.col0
        if in_top >= ny or in_left >= nx or in_top + ys <= 0 or in_left + xs <= 0:
            continue
        for br in range(-(-ny // src_bs)):
            for bc in range(-(-nx // src_bs)):
                bt, bl = br * src_bs, bc * src_bs
                chunk = r.pixels[bt:bt + src_bs, bl:bl + src_bs]
                if (bt >= in_top + ys or bt + chunk.shape[0] <= in_top
                        or bl >= in_left + xs or bl + chunk.shape[1] <= in_left):
                    continue
                rows.append(dict(
                    tile_row=0, tile_col=0, band=1, top=top, left=left,
                    ysize=ys, xsize=xs, priority=prio, in_top=in_top,
                    in_left=in_left, in_ysize=ys, in_xsize=xs, src_ncols=nx,
                    src_nrows=ny, b_top=bt, b_left=bl, b_ysize=chunk.shape[0],
                    b_xsize=chunk.shape[1], pixels=chunk.astype("<u2").tobytes(),
                ))
    ints = [k for k in rows[0] if k != "pixels"]
    data = {k: pa.array([r[k] for r in rows], pa.int32()) for k in ints}
    data["pixels"] = pa.array([r["pixels"] for r in rows], pa.binary())
    return pa.table(data)


# ---------------------------------------------------------------------------
# ingest_stream: a sparse catalog of small rasters over a large grid
# ---------------------------------------------------------------------------

def make_sparse_catalog(seed: int, n_rasters: int, size: int, extent: int) -> list[Raster]:
    """Small rasters scattered over an ``extent``^2 px grid. Two anchor
    rasters pin the grid's corners so the grid is known up front."""
    rng = np.random.default_rng(seed)
    field_seed = int(rng.integers(1 << 62))
    world = np.arange(extent, dtype=np.float64)

    def field(r0, c0):
        # the same seeded terms for every raster: one field over the grid
        return smooth_field(np.random.default_rng(field_seed), world[r0:r0 + size],
                            world[c0:c0 + size])

    spots = [(0, 0), (extent - size, extent - size)]
    while len(spots) < n_rasters:
        spots.append(tuple(int(v) for v in rng.integers(0, extent - size, 2)))
    out = []
    for i, (r0, c0) in enumerate(spots):
        arr = np.clip(field(r0, c0) + rng.integers(-48, 49, (size, size)), 1, 65535)
        arr = arr.astype(np.uint16)
        _holes(rng, arr, 2, max(8, size // 6))
        out.append(Raster(f"s{i:04d}", r0, c0, arr))
    return out


def documents(seed: int, refs: list[str], first_doc: int) -> pa.Table:
    """Interleaved text+media documents carrying ``refs`` in order, with
    one to three media spans per document between text spans."""
    rng = np.random.default_rng(seed)
    words = ("tile scan merge block raster mosaic extent grid cell join "
             "shuffle arrow spark stitch priority pixel band overview").split()
    docs, spans_col, i = [], [], 0
    while i < len(refs):
        spans, k = [], int(rng.integers(1, 4))
        for ref in refs[i:i + k]:
            for _ in range(int(rng.integers(1, 3))):
                spans.append(dict(kind="text", text=" ".join(rng.choice(words, 5)),
                                  media_ref=None, offset=len(spans)))
            spans.append(dict(kind="media", text=None, media_ref=ref, offset=len(spans)))
        docs.append(f"d{first_doc + len(docs):07d}")
        spans_col.append(spans)
        i += k
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.table({"doc_id": pa.array(docs, pa.string()),
                     "spans": pa.array(spans_col, pa.list_(span_t))})


# ---------------------------------------------------------------------------
# derived_basins: seeded DEM and numpy hydrology truth
# ---------------------------------------------------------------------------

def make_dem(seed: int, n: int) -> np.ndarray:
    """A fixed ridge-and-valley surface plus seeded jitter, so the pits
    and the exact flow paths change with the seed while the longest flow
    path, and with it the number of pointer-doubling rounds, does not."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:n, 0:n].astype(np.float64)
    surf = (3000 + 900 * np.sin(2 * np.pi * yy / (n / 1.5)) * np.cos(2 * np.pi * xx / (n / 1.2))
            + 500 * np.sin(2 * np.pi * (yy + xx) / (n * 0.9)))
    return np.clip(surf + rng.integers(-8, 9, size=(n, n)), 1, 65535).astype(np.int64)


def d8_grid(dem: np.ndarray, dirs, diag_w: float, flat: int) -> np.ndarray:
    """Steepest-descent D8 code per cell (index into ``dirs``; ``flat``
    when no neighbour is lower; -1 on the raster border, where the 3x3
    window leaves the raster). The first direction wins ties."""
    n, m = dem.shape
    cc = dem[1:-1, 1:-1]
    eff = np.stack([
        (cc - dem[1 + dy:n - 1 + dy, 1 + dx:m - 1 + dx]).astype(np.float64)
        * (diag_w if dy and dx else 1.0)
        for dy, dx in dirs
    ])
    best = eff.argmax(axis=0)
    code = np.where(eff.max(axis=0) > 0.0, best, flat)
    out = np.full((n, m), -1, np.int64)
    out[1:-1, 1:-1] = code
    return out


def hydro_truth(d8: np.ndarray, dirs, flat: int):
    """Basins (label, dist) by numpy pointer doubling and flow
    accumulation by a reverse-topological sweep, over a global D8 grid
    (-1 undefined, ``flat`` pit/flat). Returns gid-ordered arrays for
    the defined cells plus each virtual outlet's throughput."""
    n = d8.shape[1]
    gid = np.arange(d8.size, dtype=np.int64)
    codes = d8.ravel()
    defined = codes != -1
    flowing = defined & (codes != flat)
    off = np.array([dy * n + dx for dy, dx in dirs], np.int64)
    hop = np.full(d8.size, -1, np.int64)
    hop[flowing] = gid[flowing] + off[codes[flowing]]
    ptr = gid.copy()
    ptr[flowing] = hop[flowing]
    dist = flowing.astype(np.int64)
    while True:
        ptr2 = ptr[ptr]
        if (ptr2 == ptr).all():
            break
        dist = dist + np.where(ptr2 != ptr, dist[ptr], 0)
        ptr = ptr2
    acc = np.zeros(d8.size, np.int64)
    acc[defined] = 1
    order = np.argsort(-dist, kind="stable")
    order = order[flowing[order]]
    levels = dist[order]
    bounds = np.flatnonzero(np.diff(levels)) + 1
    for sel in np.split(order, bounds):
        np.add.at(acc, hop[sel], acc[sel])
    outlets = {int(g): int(acc[g]) for g in np.unique(hop[hop >= 0]) if not defined[g]}
    return gid[defined], ptr[defined], dist[defined], acc[defined], outlets

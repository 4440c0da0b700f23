"""Self-checks of the benchmark at toy sizes.

    python3 -m pytest perfbench -q

The plan-metric fold must find exactly the operators it names (one
stitch FlatMapGroupsInArrow over one (band, tile) Exchange on the direct
path, no Exchange under the stitch on the relayout path), so a plan
change cannot silently read as a zero-cost layer; every metric name in
BENCHMARK.json is pinned to the code that emits it.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import corpus  # noqa: E402
import harness  # noqa: E402
import planfold  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
LAYER_NAMES = [n for n, _, _ in run.PER_LAYER]


def test_benchmark_json_pins_every_metric_and_workload():
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == list(workloads.WORKLOADS)
    assert [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"][0]["bound"] == max(
        m["bound"] for m in BENCH["end_to_end"])


def test_hydro_truth_on_a_hand_built_grid():
    # 3 x 4 grid, row-major gids; dirs: 0 = east, 1 = south; 8 = pit
    dirs = [(0, 1), (1, 0)]
    d8 = np.array([[0, 0, 0, 1],
                   [-1, 0, 0, 1],
                   [-1, -1, -1, 8]])
    gid, basin, dist, acc, outlets = corpus.hydro_truth(d8, dirs, 8)
    assert gid.tolist() == [0, 1, 2, 3, 5, 6, 7, 11]
    assert basin.tolist() == [11] * 8
    assert dist.tolist() == [5, 4, 3, 2, 3, 2, 1, 0]
    assert acc.tolist() == [1, 2, 3, 4, 1, 2, 7, 8]
    assert outlets == {}


def test_paste_keeps_the_last_non_null_value():
    a = corpus.Raster("a", 0, 0, np.array([[1, 2], [3, 0]], np.uint16))
    b = corpus.Raster("b", 0, 1, np.array([[0, 7], [9, 0]], np.uint16))
    canvas = np.zeros((2, 3), np.uint16)
    corpus.paste(canvas, [a, b])
    assert canvas.tolist() == [[1, 2, 7], [3, 9, 0]]


class ToyFull(workloads.MosaicFull):
    GRID, RSIZE, TILE, CELL, MIN_OVERVIEW, BUCKETS = 2, 256, 64, 256, 32, 8


class ToyBasins(workloads.DerivedBasins):
    N, TILE = 64, 32


class ToyIngest(workloads.IngestProbe):
    EXTENT, RSIZE, N_RASTERS, PER_BATCH, TILE = 1024, 96, 4, 2, 256


@pytest.fixture(scope="module")
def spark():
    harness.prepare_workdir()
    s = harness.start_session("test")
    yield s
    harness.stop_session(s)


@pytest.fixture(scope="module")
def tracer(spark):
    return Tracer(spark)


def _traced(wl, spark, tracer, name):
    wl.root = harness.WORK / f"in-{name}"
    wl.generate()
    wl.load(spark)
    with tracer.result() as spans:
        wl.result(spark, tracer, 0)
    assert wl.check(spark, 0)
    return spans


def test_fold_direct_path_has_one_stitch_over_the_tile_exchange(spark, tracer):
    wl = ToyFull(3)
    spans = _traced(wl, spark, tracer, "full")
    sites = planfold.stitch_sites([p for s in spans for p in s.plans])
    assert len(sites) == 1
    assert [planfold._is_tile_exchange(x) for x in sites[0][1]].count(True) == 1
    m = wl.layers(spans)
    assert m["stitch.operators"] == 1 and m["shuffle.exchanges"] == 1
    for k in ("shuffle.bytes_written", "shuffle.data_bytes", "shuffle.records",
              "stitch.python_busy_s", "stitch.bytes_to_python", "stitch.bytes_from_python",
              "clip.rows_out", "sink.files", "sink.bytes_written", "pyramid.rows",
              "summary.jobs", "sink.jobs"):
        assert m[k] > 0, k
    assert set(m) - set(LAYER_NAMES) <= {
        "stitch.operators", "stitch.exchanges_below", "stitch.rows_in",
        "stitch.scan_bytes", "shuffle.exchanges"}


def test_fold_relayout_path_has_no_exchange_under_the_stitch(spark, tracer):
    wl = ToyFull(4)
    _traced(wl, spark, tracer, "relayout")
    m = wl.relayout_probe(spark, tracer, reruns=1)
    # the probe's last two checksum collects: relayout, then direct
    relayout, direct = [s for s in tracer.spans if s.name == "operators.stitch"][-2:]
    sites = planfold.stitch_sites(relayout.plans)
    assert len(sites) == 1 and sites[0][1] == []
    sites = planfold.stitch_sites(direct.plans)
    assert len(sites) == 1
    assert [planfold._is_tile_exchange(x) for x in sites[0][1]].count(True) == 1
    assert m["relayout.shuffle_bytes"] == 0 and m["relayout.scan_bytes"] > 0
    assert m["relayout.stitch_tasks"] >= ToyFull.BUCKETS
    assert 0 < m["relayout.buckets"] <= ToyFull.BUCKETS
    assert set(m) <= set(LAYER_NAMES)


def test_basins_match_numpy_truth_and_fold_their_layers(spark, tracer):
    wl = ToyBasins(5)
    spans = _traced(wl, spark, tracer, "basins")
    m = wl.layers(spans)
    for k in ("focal.terrain_s", "focal.halo_bytes", "focal.jobs", "hydro.basins_s",
              "hydro.basins_jobs", "hydro.accumulation_s", "hydro.accumulation_jobs"):
        assert m[k] > 0, k
    assert set(m) <= set(LAYER_NAMES)


def test_ingest_probe_checks_every_batch(spark, tracer):
    probe = ToyIngest(6)
    probe.root = harness.WORK / "in-ingest"
    m = probe.run(spark, tracer)
    assert m["incremental.touched_tiles"] > 0
    assert m["incremental.rewritten_tiles"] >= m["incremental.touched_tiles"]
    assert m["docs.rank_jobs"] > 0
    assert set(m) <= set(LAYER_NAMES)

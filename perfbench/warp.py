"""The two warp workloads: seeded inputs, pass steps and output checks.

Both warp the same seeded raster: ``BANDS`` x ``SIZE``^2 uint8 in
EPSG:4326, blocky regions plus noise (``fixtures._blocky``), to 256-px
EPSG:3857 tiles at ``ZOOMS``.

- ``warp_chunks`` ingests the raster as a corpus of 2x2 adjacent deflate
  GeoTIFFs with ``tiff_chunks_df`` in every step, then warps it with the
  chunk-anchored plan: ``near`` through ``warp_tiles(mosaic=True)`` and
  ``median`` through ``mosaic_chunks`` + ``mosaic_meta_df``, the shape of
  ``__spark_entry__.q_warp_tiles_chunks``.
- ``warp_publish`` warps the in-memory raster with
  ``warp_fixture_to_tiles(join_strategy="auto")`` (which selects
  ``broadcast_map``) for near, bilinear and median in one pass, commits
  the tiles with ``CheckpointStore.commit_tiles``, writes lineage and
  reads the snapshot back.

The oracle is the serial whole-raster ``kernels.warp.warp`` of every
tile, as ``tools/pin_expected.py`` computes its pins; each step's output
must match it on ``(z, x, y, method, bands, valid_px, crc32(data))``.
"""

from __future__ import annotations

import os
import statistics
import time
import zlib
from typing import Any, Callable, NamedTuple

import numpy as np

SIZE = 512
BANDS = 3
BBOX = [10.0, 40.0, 15.0, 45.0]
ZOOMS = [5, 6, 7]
OUT = 256
CHUNK = 256
HALO = 8
PUBLISH_METHODS = ("near", "bilinear", "median")
CHUNKS_METHODS = ("near", "median")


class Step(NamedTuple):
    """One public-operator call (``build``) and the action that runs it
    (``run``).  ``check(out, state, expected)`` runs after the timed
    window; ``state`` holds every step output of the pass by name."""
    name: str
    build: Callable[[], Any]
    run: Callable[[Any], Any]
    check: Callable[[Any, dict, dict], bool]


class Inputs(NamedTuple):
    fx: dict            # the whole raster, in memory
    bb4326: list        # its EPSG:4326 bbox, as the engine derives it
    corpus_dir: str     # 2x2 adjacent GeoTIFFs of the same raster
    files: list         # their paths
    meta: list          # per-file metadata for mosaic_chunks


def make_raster(seed: int) -> dict:
    from geowarp_spark.sources.fixtures import _blocky, _fx

    rng = np.random.default_rng(seed)
    base = _blocky(rng, SIZE, SIZE, block=32)
    data = np.stack([
        np.clip(base * (b + 1) // BANDS + rng.integers(-6, 7, (SIZE, SIZE)),
                1, 255)
        for b in range(BANDS)]).astype(np.uint8)
    return _fx(f"raster{seed}", 4326, BBOX, data, no_data=0)


def make_inputs(seed: int, work: str) -> Inputs:
    from geowarp_spark.kernels.bbox import reproject_bbox
    from geowarp_spark.kernels.proj import transformer
    from geowarp_spark.sources.fixtures import _fx
    from geowarp_spark.sources.tiff import read_tiff, write_tiff

    fx = make_raster(seed)
    corpus = os.path.join(work, "corpus")
    os.makedirs(corpus, exist_ok=True)
    px = (BBOX[2] - BBOX[0]) / SIZE
    half = SIZE // 2
    files, meta = [], []
    for i, (r0, c0) in enumerate([(0, 0), (0, half), (half, 0), (half, half)]):
        rid = f"part{i}"
        piece = np.ascontiguousarray(fx["data"][:, r0:r0 + half, c0:c0 + half])
        bb = [BBOX[0] + c0 * px, BBOX[3] - (r0 + half) * px,
              BBOX[0] + (c0 + half) * px, BBOX[3] - r0 * px]
        buf = write_tiff(_fx(rid, 4326, bb, piece, no_data=0),
                         compression="deflate", layout="tiles")
        path = os.path.join(corpus, f"{rid}.tif")
        with open(path, "wb") as f:
            f.write(buf)
        files.append(path)
        # metadata exactly as tiff_chunks_df will decode it
        back = read_tiff(buf, raster_id=rid)
        meta.append({"raster_id": rid, "srs": int(back["srs"]),
                     "geotransform": [float(v) for v in back["geotransform"]],
                     "bands": int(back["bands"]), "dtype": back["dtype"],
                     "no_data": float(back["no_data"]),
                     "raster_height": int(back["height"]),
                     "raster_width": int(back["width"])})
    inv = transformer(fx["srs"], 4326)
    bb4326 = reproject_bbox(fx["bbox"], inv.transform, density=16,
                            nan_strategy="skip")
    return Inputs(fx, bb4326, corpus, files, meta)


# ------------------------------------------------------------- the oracle


def serial_expected(inp: Inputs, methods, timings: dict | None = None) -> dict:
    """{method: sorted tile tuples} from a serial whole-raster warp per
    tile; the tile set is the chunk-bbox-hit rule of
    ``tools/pin_expected.py``.  ``timings[method]`` collects the per-tile
    kernel seconds (one core, no Spark)."""
    from geowarp_spark.grid.tiles import tile_to_bbox_3857
    from geowarp_spark.kernels.affine import Geotransform
    from geowarp_spark.kernels.warp import warp
    from geowarp_spark.operators.warp_tiles import fixture_chunk_records
    from tools.pin_expected import _tile_bbox_4326_jvm, _tile_grid

    fx = inp.fx
    recs = fixture_chunk_records(fx, chunk=256, halo=8)
    boxes = np.array([r["bbox_4326"] for r in recs], dtype=np.float64)
    h, w = fx["height"], fx["width"]
    gt = Geotransform.from_bbox(fx["bbox"], w, h).gt
    fdata = fx["data"].astype(np.float64)
    tiles = []
    for z in ZOOMS:
        x0, x1, y0, y1 = _tile_grid(inp.bb4326, z)
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                tb = _tile_bbox_4326_jvm(x, y, z)
                if ((boxes[:, 0] <= tb[2]) & (boxes[:, 2] >= tb[0])
                        & (boxes[:, 1] <= tb[3]) & (boxes[:, 3] >= tb[1])).any():
                    tiles.append((z, x, y))
    out = {}
    for m in methods:
        rows = []
        for z, x, y in tiles:
            t0 = time.perf_counter()
            block = warp(in_data=fdata, in_bbox=list(fx["bbox"]),
                         in_geotransform=list(gt), in_srs=fx["srs"],
                         in_height=h, in_width=w, in_no_data=fx["no_data"],
                         out_bbox=tile_to_bbox_3857(x, y, z), out_srs=3857,
                         out_width=OUT, out_height=OUT, method=m,
                         out_dtype=fx["dtype"])["block"]
            if timings is not None:
                timings.setdefault(m, []).append(time.perf_counter() - t0)
            rows.append((z, x, y, m, int(block.shape[0]),
                         int(np.isfinite(block.astype(np.float64)).sum()),
                         zlib.crc32(block.tobytes()) & 0xFFFFFFFF))
        out[m] = sorted(rows)
    return out


def tile_rows(pdf) -> list:
    return sorted(
        (int(z), int(x), int(y), str(m), int(b), int(v),
         zlib.crc32(bytes(d)) & 0xFFFFFFFF)
        for z, x, y, m, b, v, d in zip(
            pdf["z"], pdf["x"], pdf["y"], pdf["method"], pdf["bands"],
            pdf["valid_px"], pdf["data"]))


def flip_byte(pdf) -> None:
    """Self-test injection: flip one byte of the first tile payload."""
    data = bytearray(pdf["data"].iloc[0])
    data[len(data) // 2] ^= 0xFF
    pdf.at[pdf.index[0], "data"] = bytes(data)


# ------------------------------------------------------------------ passes


def collect(df):
    """Materialize every output column (Arrow collect)."""
    return df.toPandas()


def chunks_steps(spark, inp: Inputs, state: dict) -> list:
    from geowarp_spark.operators.warp_tiles import (
        mosaic_chunks, mosaic_meta_df, tiles_df, warp_tiles)
    from geowarp_spark.sources.tiff import tiff_chunks_df

    def tiles():
        return tiles_df(spark, ZOOMS, bbox_4326=inp.bb4326,
                        rows_per_partition=65536)

    def build_near():
        ch = tiff_chunks_df(spark, inp.corpus_dir, chunk=CHUNK, halo=HALO)
        return warp_tiles(tiles(), ch, method="near", out_size=OUT,
                          join_strategy="chunks", chunk=CHUNK, halo=HALO,
                          mosaic=True)

    def build_median():
        ch = tiff_chunks_df(spark, inp.corpus_dir, chunk=CHUNK, halo=HALO)
        comp = mosaic_chunks(ch, chunk=CHUNK, halo=HALO, meta=inp.meta)
        comp_meta = mosaic_meta_df(spark, inp.meta, chunk=CHUNK, halo=HALO)
        return warp_tiles(tiles(), comp, method="median", out_size=OUT,
                          join_strategy="chunks", chunk=CHUNK, halo=HALO,
                          chunks_meta=comp_meta)

    def check(method):
        return lambda pdf, st, expected: tile_rows(pdf) == expected[method]

    return [Step("near", build_near, collect, check("near")),
            Step("median", build_median, collect, check("median"))]


def publish_steps(spark, inp: Inputs, state: dict) -> list:
    from geowarp_spark.operators.warp_tiles import warp_fixture_to_tiles
    from geowarp_spark.plans.lineage import CheckpointStore

    store = CheckpointStore(spark, state["store_root"])

    def build_commit():
        return warp_fixture_to_tiles(
            spark, inp.fx, ZOOMS, out_size=OUT, chunk=CHUNK, halo=HALO,
            join_strategy="auto", methods=list(PUBLISH_METHODS))

    def run_commit(df):
        state["snap"] = store.commit_tiles(df, "publish")
        return state["snap"]

    def run_lineage(df):
        store.write_lineage(df, state["snap"], "publish")

    def build_readback():
        return (store.read_snapshot(state["snap"]),
                store.read_lineage().filter(
                    f"snapshot_id = '{state['snap']}'"))

    def run_readback(dfs):
        return collect(dfs[0]), collect(dfs[1])

    def check_commit(snap, st, expected):
        return snap in [s["id"] for s in store.manifest()["snapshots"]]

    def check_lineage(_, st, expected):
        want = {}
        for m in PUBLISH_METHODS:
            for r in expected[m]:
                want[str(r[0])] = want.get(str(r[0]), 0) + 1
        lin = st["readback"][1]
        return dict(zip(lin["partition_key"],
                        (int(v) for v in lin["tiles_emitted"]))) == want

    def check_readback(out, st, expected):
        return tile_rows(out[0]) == sorted(
            r for m in PUBLISH_METHODS for r in expected[m])

    return [Step("commit", build_commit, run_commit, check_commit),
            Step("lineage", lambda: store.read_snapshot(state["snap"]),
                 run_lineage, check_lineage),
            Step("readback", build_readback, run_readback, check_readback)]


WORKLOADS = {
    "warp_chunks": (CHUNKS_METHODS, chunks_steps),
    "warp_publish": (PUBLISH_METHODS, publish_steps),
}


# ------------------------------------------------------- Spark-free legs


def median_wall(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def read_tiff_s(inp: Inputs) -> float:
    """Decode every corpus file with ``read_tiff`` (no Spark)."""
    from geowarp_spark.sources.tiff import read_tiff

    bufs = []
    for p in inp.files:
        with open(p, "rb") as f:
            bufs.append((os.path.splitext(os.path.basename(p))[0], f.read()))
    return median_wall(lambda: [read_tiff(b, raster_id=r) for r, b in bufs])


def chunk_records_s(inp: Inputs) -> float:
    from geowarp_spark.operators.warp_tiles import fixture_chunk_records

    return median_wall(
        lambda: fixture_chunk_records(inp.fx, chunk=CHUNK, halo=HALO))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names)

"""OME-TIFF reader: the first *real-format* decode path (S4 routing tier).

The reference's headline plugin is bioio-ome-tiff (ref bioio/plugins.py
entry-point discovery; README.md:54-80); this module is its Spark-native
analog over the in-repo baseline codec (bioio_spark.formats.tiff):

- **Catalog (driver-side)**: only IFD0's ImageDescription is read per file
  (seek-based, a few KB) — scene shape/dtype/channels/physical sizes come
  from the OME-XML, so cataloging never touches pixel data (the D8
  metadata-only contract, ref bio_image.py:91-96).
- **Pixels (executor-side)**: `spark.read.format("binaryFile")` scans the
  file set (any Hadoop-FS URI scheme), and an Arrow-batched `mapInPandas`
  decodes pages to the long-form pixel schema. Decode parallelism = file
  count (one scene per file, the save_ome_tiff layout); rows are emitted
  per page, bounding executor memory to one plane regardless of scene
  size.

A directory produced by writers.save_ome_tiff (scene_*.ome.tiff) reads
back as a multi-scene image with scene ids, channel names, dtype, and
physical sizes restored from the embedded OME-XML.
"""

from __future__ import annotations

import os
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from bioio_spark.fsio import read_range

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import (PLANES_SCHEMA, WINDOW_SCHEMA,
                                         PlannedReader, empty_window,
                                         grid_tile, norm_window,
                                         plan_pixels, trim, with_tile)


def local_path(path: str) -> str:
    """Hadoop-FS URI -> local filesystem path. binaryFile reports paths as
    `file:/abs/path` (sometimes `file:///abs/path`); strip the scheme,
    percent-decode (Hadoop URI-encodes spaces etc.), and collapse leading
    slashes so dict lookups keyed by os.path.abspath match."""
    import re
    from urllib.parse import unquote

    if path.startswith("file:"):
        path = path[len("file:"):]
    elif "://" in path:
        path = path.split("://", 1)[-1]
    return re.sub(r"^/+", "/", unquote(path))


class TiffImageReader(PlannedReader):
    """BioImage reader over baseline OME-TIFF files (built-in tier)."""

    EXTENSIONS = (".ome.tiff", ".ome.tif", ".tiles.ome.tif", ".tiff",
                  ".tif")
    DIM_ORDER_ERROR = ("OME-TIFF dimension order comes from the "
                       "embedded OME-XML; dim_order is not accepted")

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if not (os.path.isfile(self._path) and len(img.scenes) == 1):
            return None
        try:
            return read_tiff_window(
                spark, self._path, t=t, c=c, z=z, y=y, x=x,
                level=img.current_resolution_level)
        except ValueError:
            # dialects the page planner can't window (e.g. contiguous
            # one-IFD ImageJ stacks) fall back to the Catalyst filter —
            # same rows, scan-level pruning only where the layout
            # supports it
            return None

    def read_planes(self, spark, img):
        if not (os.path.isfile(self._path) and len(img.scenes) == 1
                and "S" not in img.dims.order):
            return None
        try:
            return read_tiff_planes(spark, self._path,
                                    level=img.current_resolution_level)
        except ValueError:
            return None   # dialect fallback (contiguous ImageJ etc.)

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.tiff import (parse_ome_xml_scenes,
                                              read_ome_header)
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import OME_TO_NUMPY_DTYPE, PhysicalPixelSizes

        paths = _tiff_paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No TIFF files under {self._path}")

        # the bioio-tifffile contract: a single TIFF without OME-XML
        # still reads — ImageJ hyperstacks map the description's
        # channels/slices/frames (C-fastest page order, incl. the
        # one-IFD contiguous big-stack layout); bare TIFFs map pages
        # to Z
        if len(paths) == 1 and os.path.isfile(paths[0]):
            xml0 = read_ome_header(paths[0])
            if xml0 is None or "<OME" not in xml0:
                return self._non_ome_dataset(spark, paths[0])

        scenes, channels = [], []
        # path -> ordered scene-name list; a file with several <Image>
        # elements (multi-scene single-file OME-TIFF, ref bio_image.py:
        # 433-498 scene model) contributes one entry per Image, pages
        # assigned sequentially
        path_to_scene: dict[str, list] = {}
        seen_scenes: set[str] = set()
        si = 0
        for p in sorted(paths):
            xml = read_ome_header(p)
            if xml is None:
                raise ValueError(f"{p}: no OME-XML ImageDescription")
            # SubIFD pyramid depth shared by every page of the file
            # (seek-based IFD walk, a few KB) -> the scene's res_levels
            from bioio_spark.formats.tiff import iter_tiff_chunks

            # the pyramid depth must be uniform across pages: the decode
            # path emits res_level rows for EVERY page's SubIFD planes,
            # so an uneven file would yield rows beyond the advertised
            # res_levels — reject at catalog time instead
            sub_counts = {len(pg["subifds"]) for pg in iter_tiff_chunks(p)}
            if len(sub_counts) > 1:
                raise ValueError(
                    f"{p}: pages declare uneven SubIFD pyramid depths "
                    f"{sorted(sub_counts)}; res_levels requires one "
                    f"depth shared by every page")
            n_sub = sub_counts.pop()
            file_scene_names: list[str] = []
            for h in parse_ome_xml_scenes(xml):
                scene = h["image_id"] or f"Image:{si}"
                # save_ome_tiff (and most writers) embed image_id
                # "Image:0" in every standalone file, so a directory of
                # individually-saved TIFFs would collide into one scene
                # and silently merge pixel rows; fall back to the
                # positional id on duplicates.
                if scene in seen_scenes:
                    scene = f"Image:{si}"
                    if scene in seen_scenes:  # positional id also embedded
                        scene = f"Image:{si}@{si}"
                seen_scenes.add(scene)
                file_scene_names.append(scene)
                channels += channel_rows(
                    self._image_id, scene,
                    resolve_channel_names(
                        self._channel_names or h["channel_names"],
                        h["size_c"], si))
                size_s = h.get("size_s") or 1
                scenes.append(scene_row(
                    self._image_id, scene, si,
                    OME_TO_NUMPY_DTYPE[h["pixel_type"]],
                    dict(T=h["size_t"], C=h["size_c"], Z=h["size_z"],
                         Y=h["size_y"], X=h["size_x"],
                         S=size_s if size_s > 1 else None),
                    dim_order="TCZYXS" if size_s > 1 else "TCZYX",
                    pps=self._pps or PhysicalPixelSizes(
                        h["pps_z"], h["pps_y"], h["pps_x"]),
                    metadata=xml, res_levels=list(range(n_sub + 1))))
                si += 1
            path_to_scene[os.path.abspath(p)] = file_scene_names

        px = decode_tiff_files(
            spark, paths, path_to_scene).select(
            F.lit(self._image_id).alias("image_id"), "scene",
            "res_level", "t", "c", "z", "y", "x",
            F.lit(-1).alias("m"), "s", "value",
        ).select(*PIXEL_COLUMNS)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)

    def _non_ome_dataset(self, spark: SparkSession, path: str):
        """ImageJ-hyperstack / bare TIFF tier (the wild files
        bioio-tifffile reads): planned per-chunk seek reads, page ->
        (t, z, c) via the ImageJ C-fastest rule or pages -> Z."""
        from bioio_spark.formats.tiff import (iter_tiff_chunks,
                                              parse_imagej_description)
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        path = os.path.abspath(path)
        pages = iter_tiff_chunks(path)
        desc = pages[0].get("description") or pages[0].get("page_desc")
        ij = parse_imagej_description(desc)
        pg0 = pages[0]
        if any((pg["w"], pg["h"], pg["dtype"], pg["spp"]) !=
               (pg0["w"], pg0["h"], pg0["dtype"], pg0["spp"])
               for pg in pages):
            raise ValueError(
                f"{path}: mixed page geometry without OME-XML — "
                f"route through a dialect reader")
        spp = pg0["spp"]
        dt = np.dtype(pg0["dtype"])
        if ij:
            c_n, z_n, t_n = (ij["channels"], ij["slices"],
                             ij["frames"])
            n_images = ij["images"]
        else:
            c_n, z_n, t_n = 1, len(pages), 1
            n_images = len(pages)

        contiguous = False
        if len(pages) != n_images:
            if len(pages) == 1 and n_images > 1:
                # ImageJ's one-IFD contiguous big-stack layout: raw
                # frames appended after the first (single raw strip)
                if (pg0["comp"] != 1 or pg0["tiled"]
                        or len(pg0["chunks"]) != 1):
                    raise ValueError(
                        f"{path}: contiguous ImageJ stacks need one "
                        f"raw strip per frame")
                contiguous = True
            else:
                raise ValueError(
                    f"{path}: {len(pages)} pages != ImageJ "
                    f"images={n_images}")

        def tcz(i: int):
            if ij:
                # XYCZT: channel fastest, then slice, then frame
                return (i // (c_n * z_n), (i // c_n) % z_n, i % c_n)
            return (0, i, 0)

        plan = []
        frame_bytes = pg0["h"] * pg0["w"] * spp * dt.itemsize
        for i in range(n_images):
            t, z, c = tcz(i)
            if contiguous:
                base = pg0["chunks"][0]["offset"] + i * frame_bytes
                plan.append({"path": path, "t": t, "c": c, "z": z,
                             "offset": base, "nbytes": frame_bytes,
                             "y0": 0, "ch": pg0["h"], "cw": pg0["w"],
                             "page_h": pg0["h"], "page_w": pg0["w"],
                             "comp": 1, "pred": 1, "spp": spp,
                             "dtype": pg0["dtype"]})
            else:
                pg = pages[i]
                for chk in pg["chunks"]:
                    plan.append({
                        "path": path, "t": t, "c": c, "z": z,
                        "offset": chk["offset"],
                        "nbytes": chk["nbytes"],
                        "y0": chk["y0"], "ch": chk["h"],
                        "cw": chk["w"],
                        "page_h": pg["h"], "page_w": pg["w"],
                        "comp": pg["comp"], "pred": pg["pred"],
                        "spp": spp, "dtype": pg["dtype"]})

        scene = "Image:0"
        channels = channel_rows(
            self._image_id, scene,
            resolve_channel_names(self._channel_names, c_n, 0))
        pps = self._pps
        if pps is None and ij and ij.get("spacing") and \
                str(ij.get("unit", "")).lower() in ("micron", "um",
                                                    "µm"):
            pps = PhysicalPixelSizes(Z=float(ij["spacing"]),
                                     Y=None, X=None)
        scenes = [scene_row(
            self._image_id, scene, 0, dt,
            dict(T=t_n, C=c_n, Z=z_n, Y=pg0["h"], X=pg0["w"],
                 S=spp if spp > 1 else None),
            dim_order="TCZYXS" if spp > 1 else "TCZYX", pps=pps,
            metadata=desc)]

        def batches(it: Iterator[pd.DataFrame]
                    ) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.tiff import (
                _undo_horizontal_predictor, decompress_tiff_chunk)

            for pdf in it:
                for r in pdf.itertuples():
                    payload = read_range(r.path, r.offset, r.nbytes)
                    raw = decompress_tiff_chunk(payload, r.comp)
                    shape = ((r.ch, r.cw, r.spp) if r.spp > 1
                             else (r.ch, r.cw))
                    block = np.frombuffer(
                        raw, dtype=np.dtype(r.dtype),
                        count=r.ch * r.cw * r.spp).reshape(shape)
                    if r.pred == 2:
                        block = _undo_horizontal_predictor(block)
                    vh = min(r.ch, r.page_h - r.y0)
                    block = block[:vh]
                    y_n, x_n = block.shape[:2]
                    s_n = block.shape[2] if block.ndim == 3 else 1
                    s_col = (np.full(block.size, -1, np.int32)
                             if s_n == 1 else
                             np.tile(np.arange(s_n, dtype=np.int32),
                                     y_n * x_n))
                    yield pd.DataFrame({
                        "t": np.full(block.size, r.t, np.int32),
                        "c": np.full(block.size, r.c, np.int32),
                        "z": np.full(block.size, r.z, np.int32),
                        "y": np.repeat(np.arange(
                            r.y0, r.y0 + y_n, dtype=np.int32),
                            x_n * s_n),
                        "x": np.tile(np.repeat(np.arange(
                            x_n, dtype=np.int32), s_n), y_n),
                        "s": s_col,
                        "value": block.ravel().astype(np.float64),
                    })

        px = (plan_pixels(
                  spark, plan, batches,
                  "t int, c int, z int, y int, x int, s int, "
                  "value double",
                  nbytes=sum(r["ch"] * r["cw"] * spp for r in plan)
                  * dt.itemsize)
              .select(
                  F.lit(self._image_id).alias("image_id"),
                  F.lit(scene).alias("scene"),
                  F.lit(0).alias("res_level"), "t", "c", "z", "y", "x",
                  F.lit(-1).alias("m"), "s", "value")
              .select(*PIXEL_COLUMNS))

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)


# the directory expansion by the name to_dataset and tiff_source use
_tiff_paths = TiffImageReader.paths


def decode_tiff_files(spark: SparkSession, paths: list[str],
                      path_to_scene: Optional[dict] = None) -> DataFrame:
    """binaryFile scan + mapInPandas page decode to long-form pixel rows.

    Emits one pandas frame per TIFF page (plane), so executor memory is
    bounded by one YX raster regardless of how many pages a file has.
    A file whose OME-XML declares several <Image> elements yields one
    scene per element, pages assigned sequentially; `path_to_scene`
    values may be a single name or an ordered per-Image name list."""
    scene_of = dict(path_to_scene or {})

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bioio_spark.formats.tiff import (decode_tiff_levels,
                                              parse_ome_xml_scenes)

        for pdf in it:
            for path, content in zip(pdf["path"], pdf["content"]):
                local = local_path(path)
                planes, xml, sub_planes = decode_tiff_levels(
                    bytes(content))
                metas = parse_ome_xml_scenes(xml) if xml else [{}]
                names = None
                if scene_of:
                    if local not in scene_of:
                        # the catalog mapped every path; a miss means the
                        # binaryFile-reported path didn't round-trip — fail
                        # loudly rather than mislabel pixels
                        raise KeyError(
                            f"decode_tiff_files: {path!r} (local {local!r}) "
                            f"not in the catalog scene map "
                            f"({sorted(scene_of)[:3]}...)")
                    v = scene_of[local]
                    names = [v] if isinstance(v, str) else list(v)
                    if len(names) != len(metas):
                        raise ValueError(
                            f"{path}: catalog maps {len(names)} scenes "
                            f"but the OME-XML declares {len(metas)}")
                page0 = 0
                for k, h in enumerate(metas):
                    c_n = h.get("size_c") or 1
                    z_n = h.get("size_z") or 1
                    n_k = ((h.get("size_t") or 0) * c_n * z_n
                           or len(planes) - page0)
                    scene = (names[k] if names
                             else (h.get("image_id") or f"Image:{k}"))
                    for i in range(n_k):
                        t, rem = divmod(i, c_n * z_n)
                        c, z = divmod(rem, z_n)
                        # page's SubIFD pyramid children ride along as
                        # res_level > 0 rows (wild pyramidal OME-TIFFs)
                        page_levels = [(0, planes[page0 + i])] + [
                            (lv + 1, sp) for lv, sp in
                            enumerate(sub_planes[page0 + i])]
                        for lv, plane in page_levels:
                            y_n, x_n = plane.shape[0], plane.shape[1]
                            s_n = plane.shape[2] if plane.ndim == 3 \
                                else 1
                            # s = -1 marks "no sample dim" (grayscale),
                            # the catalog convention for absent dims
                            s_col = (np.full(plane.size, -1,
                                             dtype=np.int32)
                                     if s_n == 1 else
                                     np.tile(np.arange(s_n,
                                                       dtype=np.int32),
                                             y_n * x_n))
                            yield pd.DataFrame({
                                "scene": scene,
                                "res_level": np.full(plane.size, lv,
                                                     np.int32),
                                "t": np.full(plane.size, t,
                                             dtype=np.int32),
                                "c": np.full(plane.size, c,
                                             dtype=np.int32),
                                "z": np.full(plane.size, z,
                                             dtype=np.int32),
                                "y": np.repeat(
                                    np.arange(y_n, dtype=np.int32),
                                    x_n * s_n),
                                "x": np.tile(np.repeat(
                                    np.arange(x_n, dtype=np.int32),
                                    s_n), y_n),
                                "s": s_col,
                                "value": plane.ravel().astype(
                                    np.float64),
                            })
                    page0 += n_k

    binary = (spark.read.format("binaryFile")
              .option("pathGlobFilter", "*.tif*")
              .load([f"file://{os.path.abspath(p)}" for p in paths]))
    return binary.select("path", "content").mapInPandas(
        batches,
        schema="scene string, res_level int, t int, c int, z int, "
               "y int, x int, s int, value double")


def read_tiff_planes(spark: SparkSession, path: str,
                     level: int = 0) -> DataFrame:
    """ZERO-SHUFFLE strip/tile -> planes-layout read of ONE
    single-scene TIFF (the TIFF member of the planes family, with
    read_zarr_planes / read_czi_planes): the seek-based IFD walk plans
    one row per stored chunk; each task reads exactly its byte range
    and emits (t, c, z, y0, x0, h, w, values) payload rows — no
    per-pixel amplification, tile geometry = the file's own strip/tile
    grid. ``level`` selects the SubIFD pyramid child. Multi-sample
    (S>1) and multi-scene files route through the full reader."""
    from bioio_spark.formats.tiff import iter_tiff_chunks

    p = local_path(path)
    pages = iter_tiff_chunks(p)
    if not pages:
        raise ValueError(f"{p}: no TIFF pages")
    if level:
        swapped = []
        for pg in pages:
            if level > len(pg["subifds"]):
                raise IndexError(
                    f"{p}: page {pg['page']} has "
                    f"{len(pg['subifds'])} pyramid level(s)")
            sub = dict(pg["subifds"][level - 1])
            sub["page"] = pg["page"]
            sub["description"] = pg["description"]
            swapped.append(sub)
        pages = swapped
    if any(pg["spp"] != 1 for pg in pages):
        raise ValueError("read_tiff_planes supports single-sample "
                         "pages; use the full reader")
    desc = pages[0]["description"]
    size_t = size_c = 1
    size_z = len(pages)
    imagej_order = False
    if desc and "<OME" in desc:
        from bioio_spark.formats.tiff import parse_ome_xml_scenes

        metas = parse_ome_xml_scenes(desc)
        if len(metas) > 1:
            raise ValueError(
                "read_tiff_planes reads single-scene files; route "
                "multi-scene files through BioImage")
        h = metas[0]
        size_t, size_c, size_z = h["size_t"], h["size_c"], h["size_z"]
    elif desc and desc.startswith("ImageJ="):
        from bioio_spark.formats.tiff import parse_imagej_description

        ij = parse_imagej_description(desc)
        if len(pages) != ij["images"]:
            raise ValueError(
                f"{p}: contiguous one-IFD ImageJ stacks route "
                f"through the full reader")
        size_t, size_c, size_z = (ij["frames"], ij["channels"],
                                  ij["slices"])
        imagej_order = True
    tasks = []
    for pg in pages:
        if imagej_order:
            ti = pg["page"] // (size_c * size_z)
            zi = (pg["page"] // size_c) % size_z
            ci = pg["page"] % size_c
        else:
            ti, rem = divmod(pg["page"], size_c * size_z)
            ci, zi = divmod(rem, size_z)
        for ch in pg["chunks"]:
            tasks.append((ti, ci, zi, ch["offset"], ch["nbytes"],
                          ch["y0"], ch["x0"], ch["h"], ch["w"],
                          pg["dtype"], pg["comp"], pg["pred"],
                          pg["h"], pg["w"], pg.get("jpeg_tables")))
    def decode(batches):
        import numpy as _np
        import pandas as _pd

        from bioio_spark.formats.tiff import (_decode_jpeg_chunk,
                                              _undo_horizontal_predictor,
                                              decompress_tiff_chunk)

        with open(p, "rb") as f:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    f.seek(row.offset)
                    payload = f.read(row.nbytes)
                    dt = _np.dtype(row.dtype)
                    if row.comp == 7:      # TechNote 2 JPEG chunk
                        tables = (bytes(row.jpeg_tables)
                                  if row.jpeg_tables is not None
                                  else None)
                        img = _decode_jpeg_chunk(payload, tables)
                        if img.ndim == 3:
                            raise ValueError(
                                "planes read supports gray JPEG "
                                "chunks; use the full reader for RGB")
                        block = _np.zeros((row.ch, row.cw), dt)
                        block[:img.shape[0], :img.shape[1]] = \
                            img[:row.ch, :row.cw]
                    else:
                        raw = decompress_tiff_chunk(payload, row.comp)
                        block = _np.frombuffer(
                            raw, dtype=dt,
                            count=row.ch * row.cw).reshape(
                            (row.ch, row.cw))
                    if row.pred == 2:
                        block = _undo_horizontal_predictor(block)
                    vh = min(row.ch, row.page_h - row.y0)
                    vw = min(row.cw, row.page_w - row.x0)
                    block = block[:vh, :vw]
                    yield _pd.DataFrame({
                        "t": [int(row.t)], "c": [int(row.c)],
                        "z": [int(row.z)], "y0": [int(row.y0)],
                        "x0": [int(row.x0)], "h": [int(vh)],
                        "w": [int(vw)],
                        "values": [block.astype(_np.float64).ravel()],
                    })

    planes = plan_pixels(
        spark, tasks, decode, PLANES_SCHEMA,
        row_schema="t int, c int, z int, offset long, nbytes long, "
                   "y0 int, x0 int, ch int, cw int, dtype string, "
                   "comp int, pred int, page_h int, page_w int, "
                   "jpeg_tables binary",
        nbytes=_decoded_bytes(tasks))
    return with_tile(planes, grid_tile(r[5:9] for r in tasks))


def _decoded_bytes(tasks) -> int:
    """Decoded size of chunk-plan tuples ``(t, c, z, offset, nbytes,
    y0, x0, ch, cw, dtype, ...)``."""
    return sum(r[7] * r[8] * np.dtype(r[9]).itemsize for r in tasks)


def read_tiff_window(spark: SparkSession, path: str,
                     t=None, c=None, z=None, y=None, x=None,
                     level: int = 0) -> DataFrame:
    """Chunk-pruned windowed read of ONE TIFF file — the TIFF twin of
    read_zarr_window: the driver turns selectors into the exact set of
    intersecting pages and strips/tiles via a seek-based IFD walk (a few
    KB of reads), and executors fetch ONLY those byte ranges — reading
    one plane of a multi-GB pyramidal TIFF touches O(plane/strip) bytes,
    not the file. The residual trim to exact bounds is a codegen row
    filter after decode.

    Pages map to (t, c, z) in the OME page order (t-major, as the
    reference's OME writers emit); a TIFF without OME metadata reads as
    (1, 1, n_pages). ``level`` > 0 selects each page's SubIFD (tag 330)
    pyramid child of that index — the wild pyramidal-OME-TIFF layout —
    with the same pruning applied to the level's own strip/tile grid.
    Multi-sample (S>1) pages are not supported on this path — use the
    full reader.
    """
    import numpy as np

    from bioio_spark.formats.tiff import (decompress_tiff_chunk,
                                          iter_tiff_chunks)

    p = local_path(path)
    pages = iter_tiff_chunks(p)
    if not pages:
        raise ValueError(f"{p}: no TIFF pages")
    if level:
        swapped = []
        for pg in pages:
            if level > len(pg["subifds"]):
                raise IndexError(
                    f"{p}: page {pg['page']} has "
                    f"{len(pg['subifds'])} pyramid level(s); "
                    f"requested level {level}")
            sub = dict(pg["subifds"][level - 1])
            sub["page"] = pg["page"]
            sub["description"] = pg["description"]
            sub["subifds"] = []
            swapped.append(sub)
        pages = swapped
    if any(pg["spp"] != 1 for pg in pages):
        raise ValueError("read_tiff_window supports single-sample pages")
    desc = pages[0]["description"]
    imagej_order = False
    if desc and "<OME" in desc:
        from bioio_spark.formats.tiff import parse_ome_xml_scenes

        metas = parse_ome_xml_scenes(desc)
        if len(metas) > 1:
            raise ValueError(
                "read_tiff_window reads single-scene files; route "
                "multi-scene files through BioImage/set_scene")
        h = metas[0]
        size_t, size_c, size_z = h["size_t"], h["size_c"], h["size_z"]
    elif desc and desc.startswith("ImageJ="):
        from bioio_spark.formats.tiff import parse_imagej_description

        ij = parse_imagej_description(desc)
        if len(pages) != ij["images"]:
            raise ValueError(
                f"{p}: contiguous one-IFD ImageJ stacks are not "
                f"windowable by page; use the full reader")
        size_t, size_c, size_z = (ij["frames"], ij["channels"],
                                  ij["slices"])
        imagej_order = True          # XYCZT: channel-fastest pages
    else:
        size_t, size_c, size_z = 1, 1, len(pages)
    if size_t * size_c * size_z != len(pages):
        raise ValueError(
            f"{p}: {len(pages)} pages != T*C*Z "
            f"{size_t}*{size_c}*{size_z}")
    size_y, size_x = pages[0]["h"], pages[0]["w"]

    tw = norm_window(t, size_t)
    cw = norm_window(c, size_c)
    zw = norm_window(z, size_z)
    yw = norm_window(y, size_y)
    xw = norm_window(x, size_x)

    tasks = []
    for pg in pages:
        if imagej_order:
            # XYCZT: channel fastest, then slice, then frame
            ti = pg["page"] // (size_c * size_z)
            zi = (pg["page"] // size_c) % size_z
            ci = pg["page"] % size_c
        else:
            ti, rem = divmod(pg["page"], size_c * size_z)
            ci, zi = divmod(rem, size_z)
        if not (tw[0] <= ti < tw[1] and cw[0] <= ci < cw[1]
                and zw[0] <= zi < zw[1]):
            continue
        for ch in pg["chunks"]:
            if ch["y0"] >= yw[1] or ch["y0"] + ch["h"] <= yw[0]:
                continue
            if ch["x0"] >= xw[1] or ch["x0"] + ch["w"] <= xw[0]:
                continue
            tasks.append((ti, ci, zi, ch["offset"], ch["nbytes"],
                          ch["y0"], ch["x0"], ch["h"], ch["w"],
                          pg["dtype"], pg["comp"], pg["pred"],
                          pg["h"], pg["w"], bool(pg["tiled"]),
                          pg.get("jpeg_tables")))

    if not tasks:
        return empty_window(spark)

    def decode(batches):
        import pandas as _pd

        from bioio_spark.formats.tiff import (_decode_jpeg_chunk,
                                              _undo_horizontal_predictor)

        with open(p, "rb") as f:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    f.seek(row.offset)
                    payload = f.read(row.nbytes)
                    dt = np.dtype(row.dtype)
                    if row.comp == 7:      # TechNote 2 JPEG chunk
                        tables = (bytes(row.jpeg_tables)
                                  if row.jpeg_tables is not None
                                  else None)
                        img = _decode_jpeg_chunk(payload, tables)
                        if img.ndim == 3:
                            raise ValueError(
                                "windowed read supports gray JPEG "
                                "chunks; use the full reader for RGB")
                        block = np.zeros((row.ch, row.cw), dt)
                        block[:img.shape[0], :img.shape[1]] =                             img[:row.ch, :row.cw]
                    else:
                        raw = decompress_tiff_chunk(payload, row.comp)
                        # count= tolerates writers that pad the final
                        # strip of a compressed file to full
                        # rows_per_strip — the decoded bytes may exceed
                        # the strip's true extent
                        block = np.frombuffer(
                            raw, dtype=dt,
                            count=row.ch * row.cw).reshape(
                            (row.ch, row.cw))
                    if row.pred == 2:
                        block = _undo_horizontal_predictor(block)
                    # tiles are stored full-size; trim edge overhang
                    vh = min(row.ch, row.page_h - row.y0)
                    vw = min(row.cw, row.page_w - row.x0)
                    block = block[:vh, :vw]
                    yy, xx = np.indices(block.shape)
                    yield _pd.DataFrame({
                        "t": np.int32(row.t), "c": np.int32(row.c),
                        "z": np.int32(row.z),
                        "y": (yy.ravel() + row.y0).astype(np.int32),
                        "x": (xx.ravel() + row.x0).astype(np.int32),
                        "value": block.ravel().astype(np.float64),
                    })

    px = plan_pixels(
        spark, tasks, decode, WINDOW_SCHEMA,
        row_schema="t int, c int, z int, offset long, nbytes long, "
                   "y0 int, x0 int, ch int, cw int, dtype string, "
                   "comp int, pred int, page_h int, page_w int, "
                   "tiled boolean, jpeg_tables binary",
        nbytes=_decoded_bytes(tasks))
    return trim(px, y=yw, x=xw)

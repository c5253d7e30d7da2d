"""TIFF reader: OME-TIFF, ImageJ hyperstacks and bare TIFFs as one
planned reader (the reference's bioio-ome-tiff and bioio-tifffile
plugins, ref bioio/plugins.py entry-point discovery; README.md:54-80),
over the in-repo baseline codec (bioio_spark.formats.tiff).

- **Plan (driver-side)**: one seek-based IFD walk per file
  (``iter_tiff_chunks``, a few KB of reads, no pixel data — the D8
  metadata-only contract, ref bio_image.py:91-96). IFD0's description
  says the dialect and places each page at its ``(scene, t, c, z)``:
  OME-XML (t-major pages, several ``<Image>`` elements taking the page
  sequence in turn), ImageJ (channel-fastest pages, and the one-IFD
  contiguous stack as one row per appended frame), or none (pages ->
  Z). The plan holds one row per stored strip or tile, per page and per
  SubIFD pyramid level (``res_level``).
- **Decode (executor-side)**: ``decode_chunks`` seek-reads and decodes
  one chunk per row. The slide readers (SVS, NDPI, QPTIFF, SCN) plan
  with ``page_rows`` and decode with it too.

``PlannedReader`` derives the full read, ``read_window`` and
``read_planes`` from that plan. A directory of TIFFs (the
writers.save_ome_tiff layout) reads as one scene per ``<Image>`` of
each file, with scene ids, channel names, dtype and physical sizes from
the embedded OME-XML.
"""

from __future__ import annotations

import os

import numpy as np

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import Plan, PlannedReader


def page_rows(path: str, pg: dict, **extent) -> list[dict]:
    """Plan rows of one TIFF page's tiles or strips: ``extent`` places
    the page (scene, res_level, t, c, z); ``h``/``w`` clip a chunk's
    stored ``ch`` x ``cw`` at the page's edge."""
    ap = os.path.abspath(path)
    return [{"path": ap, **extent, "offset": ch["offset"],
             "nbytes": ch["nbytes"], "y0": ch["y0"], "x0": ch["x0"],
             "h": min(ch["h"], pg["h"] - ch["y0"]),
             "w": min(ch["w"], pg["w"] - ch["x0"]),
             "ch": ch["h"], "cw": ch["w"], "dtype": pg["dtype"],
             "comp": pg["comp"], "pred": pg["pred"], "spp": pg["spp"],
             "jpeg_tables": pg.get("jpeg_tables")}
            for ch in pg["chunks"]]


def decode_chunks(rows):
    """The one TIFF chunk decoder: seek-read each row's strip or tile,
    decompress it (or decode its JPEG stream with the page's tables,
    gray or RGB), undo predictor 2, and yield it in native byte order
    cut to its extent — ``(h, w)``, or ``(h, w, S)`` for a page with
    several samples."""
    from bioio_spark.formats.tiff import (_decode_jpeg_chunk,
                                          _undo_horizontal_predictor,
                                          decompress_tiff_chunk)

    for r in rows.itertuples(index=False):
        payload = read_range(r.path, r.offset, r.nbytes)
        dt = np.dtype(r.dtype)
        shape = (r.ch, r.cw, r.spp) if r.spp > 1 else (r.ch, r.cw)
        if r.comp == 7:
            tables = (bytes(r.jpeg_tables)
                      if r.jpeg_tables is not None else None)
            img = _decode_jpeg_chunk(payload, tables)
            if img.ndim != len(shape):
                raise ValueError(
                    f"{r.path}: JPEG chunk decoded to {img.ndim} axes, "
                    f"the page declares {r.spp} sample(s)")
            # a short edge chunk pads to the stored chunk shape
            block = np.zeros(shape, dt)
            block[:img.shape[0], :img.shape[1]] = img[:r.ch, :r.cw]
        else:
            # count= tolerates writers that pad the final strip of a
            # compressed page to full rows_per_strip
            block = np.frombuffer(
                decompress_tiff_chunk(payload, r.comp), dtype=dt,
                count=int(np.prod(shape))).reshape(shape)
        if r.pred == 2:
            block = _undo_horizontal_predictor(block)
        yield r, block[:r.h, :r.w].astype(dt.newbyteorder("="),
                                          copy=False)


def _ome_scenes(path: str, pages: list, desc: str) -> list[dict]:
    """The scenes of an OME-TIFF: each ``<Image>`` takes the next
    T*C*Z pages in t-major, then c, then z order."""
    from bioio_spark.formats.tiff import parse_ome_xml_scenes
    from bioio_spark.types import OME_TO_NUMPY_DTYPE, PhysicalPixelSizes

    metas = parse_ome_xml_scenes(desc)
    counts = [(h["size_t"] or 1) * (h["size_c"] or 1) * (h["size_z"] or 1)
              for h in metas]
    if sum(counts) != len(pages):
        raise ValueError(
            f"{path}: the OME-XML declares {sum(counts)} planes (T*C*Z "
            f"over {len(metas)} image(s)) but the file has {len(pages)} "
            f"pages")
    out, page0 = [], 0
    for h, n in zip(metas, counts):
        c_n, z_n = h["size_c"] or 1, h["size_z"] or 1
        out.append({
            "id": h["image_id"], "dtype": OME_TO_NUMPY_DTYPE[h["pixel_type"]],
            "sizes": dict(T=h["size_t"] or 1, C=c_n, Z=z_n, Y=h["size_y"],
                          X=h["size_x"], S=h["size_s"]),
            "channel_names": h["channel_names"],
            "pps": PhysicalPixelSizes(h["pps_z"], h["pps_y"], h["pps_x"]),
            "metadata": desc,
            "pages": [(pages[page0 + i], i // (c_n * z_n),
                       i // z_n % c_n, i % z_n) for i in range(n)]})
        page0 += n
    return out


def _imagej_scene(path: str, pages: list, desc) -> dict:
    """The one scene of a TIFF without OME-XML: an ImageJ hyperstack's
    pages channel-fastest (XYCZT), a bare TIFF's pages -> Z. ImageJ's
    one-IFD contiguous stack appends raw frames after the first page;
    each frame becomes a page of its own."""
    from bioio_spark.formats.tiff import parse_imagej_description
    from bioio_spark.types import PhysicalPixelSizes

    ij = parse_imagej_description(desc)
    pg0 = pages[0]
    geometry = ("w", "h", "dtype", "spp")
    if any(tuple(pg[k] for k in geometry) != tuple(pg0[k] for k in geometry)
           for pg in pages):
        raise ValueError(f"{path}: mixed page geometry without OME-XML — "
                         f"route through a dialect reader")
    t_n, c_n, z_n = ((ij["frames"], ij["channels"], ij["slices"]) if ij
                     else (1, 1, len(pages)))
    n = t_n * c_n * z_n
    if len(pages) != n:
        if len(pages) != 1:
            raise ValueError(f"{path}: {len(pages)} pages != ImageJ "
                             f"images={n}")
        if pg0["comp"] != 1 or pg0["tiled"] or len(pg0["chunks"]) != 1:
            raise ValueError(f"{path}: contiguous ImageJ stacks need one "
                             f"raw strip per frame")
        frame = pg0["h"] * pg0["w"] * pg0["spp"] * np.dtype(
            pg0["dtype"]).itemsize
        chunk = pg0["chunks"][0]
        pages = [dict(pg0, pred=1, subifds=[], chunks=[dict(
            chunk, offset=chunk["offset"] + i * frame, nbytes=frame)])
            for i in range(n)]
    pps = None
    if ij and ij.get("spacing") and str(ij.get("unit", "")).lower() in (
            "micron", "um", "µm"):
        pps = PhysicalPixelSizes(Z=float(ij["spacing"]), Y=None, X=None)
    return {
        "id": None, "dtype": pg0["dtype"],
        "sizes": dict(T=t_n, C=c_n, Z=z_n, Y=pg0["h"], X=pg0["w"],
                      S=pg0["spp"]),
        "channel_names": None, "pps": pps, "metadata": desc,
        "pages": [(pg, i // (c_n * z_n), i % c_n, i // c_n % z_n)
                  for i, pg in enumerate(pages)]}


class TiffImageReader(PlannedReader):
    """BioImage reader over TIFF files: OME-TIFF, ImageJ hyperstacks and
    bare multi-page TIFFs (built-in tier)."""

    EXTENSIONS = (".ome.tiff", ".ome.tif", ".tiles.ome.tif", ".tiff",
                  ".tif")
    DIM_ORDER_ERROR = ("OME-TIFF dimension order comes from the "
                       "embedded OME-XML; dim_order is not accepted")
    decode_tiles = staticmethod(decode_chunks)

    def plan(self) -> Plan:
        from bioio_spark.formats.tiff import iter_tiff_chunks
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No TIFF files under {self._path}")
        rows, scenes, channels = [], [], []
        for path in paths:
            pages = iter_tiff_chunks(path)
            # every page's SubIFD children are the scene's res_levels,
            # so the pyramid depth must be one depth shared by all pages
            depths = {len(pg["subifds"]) for pg in pages}
            if len(depths) > 1:
                raise ValueError(
                    f"{path}: pages declare uneven SubIFD pyramid depths "
                    f"{sorted(depths)}; res_levels requires one depth "
                    f"shared by every page")
            levels = list(range(max(depths) + 1))
            desc = pages[0]["description"]
            found = (_ome_scenes(path, pages, desc)
                     if desc and "<OME" in desc
                     else [_imagej_scene(path, pages, desc)])
            for sc in found:
                si = len(scenes)
                # standalone writers embed "Image:0" in every file, so a
                # directory of them falls back to positional scene ids
                taken = {s["scene"] for s in scenes}
                scene = next(s for s in (sc["id"], f"Image:{si}",
                                         f"Image:{si}@{si}")
                             if s and s not in taken)
                sizes = sc["sizes"]
                if sizes["S"] == 1:
                    sizes["S"] = None
                channels += channel_rows(
                    self._image_id, scene, resolve_channel_names(
                        self._channel_names or sc["channel_names"],
                        sizes["C"], si))
                scenes.append(scene_row(
                    self._image_id, scene, si, sc["dtype"], sizes,
                    dim_order="TCZYXS" if sizes["S"] else "TCZYX",
                    pps=self._pps or sc["pps"], metadata=sc["metadata"],
                    res_levels=levels))
                for pg, t, c, z in sc["pages"]:
                    for lv, level in enumerate([pg, *pg["subifds"]]):
                        rows += page_rows(path, level, scene=scene,
                                          res_level=lv, t=t, c=c, z=z)
        return Plan(rows, scenes, channels)

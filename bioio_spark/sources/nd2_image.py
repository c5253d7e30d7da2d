"""ND2 reader (.nd2) — the reference's bioio-nd2 plugin tier (ref
README.md:63), over the in-repo pure-Python chunk-map codec
(bioio_spark.formats.nd2).

- **Catalog (driver-side)**: tail-seek the chunk map, decode the
  ImageAttributesLV tree (width/height/components/bit depth/sequence
  count) and ImageTextInfoLV channel names — a few KB of IO.
- **Pixels (executor-side)**: one plan row per ImageDataSeq FRAME
  (chunk offset + geometry from the map); each task seek-reads its
  frame and de-interleaves components into the c column — parallelism
  = frame count, zero shuffle, one ranged GET per frame at
  object-store scale.

The SLxExperiment loop structure (ImageMetadataLV!) factorizes the
frame sequence: TimeLoop/NETimeLoop -> T, ZStackLoop -> Z, and
XYPosLoop -> one SCENE per stage position (the reference's bioio-nd2
multi-position mapping), any nesting order. Custom/unknown loop types
(and files without the chunk) fall back to the flat T series,
documented in formats/nd2.py."""

from __future__ import annotations

import os

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tile)


class Nd2ImageReader(PlannedReader):
    """BioImage reader over baseline ND2 files (plugin tier)."""

    EXTENSIONS = (".nd2",)
    DIM_ORDER_ERROR = "ND2 dimensions come from the attribute chunks"
    narrow = staticmethod(narrow_rows)

    @classmethod
    def is_supported_image(cls, image) -> bool:
        import struct

        if not isinstance(image, str) or not \
                image.lower().endswith(cls.EXTENSIONS):
            return False
        try:
            with open(image, "rb") as f:
                head = f.read(4)
            return len(head) == 4 and struct.unpack(
                "<I", head)[0] == 0x0ABECEDA
        except OSError:
            return False

    @staticmethod
    def decode_tiles(rows):
        """Each frame's component-interleaved rows: ``offset`` is the
        byte range's start inside the frame chunk's data, whose header
        the read checks."""
        from bioio_spark.formats.nd2 import read_nd2_chunk_slice

        for r in rows.itertuples(index=False):
            yield r, raw_tile(r, read_nd2_chunk_slice(
                r.path, f"ImageDataSeq|{r.seq}!", int(r.chunk),
                int(r.offset), int(r.nbytes)))

    def plan(self) -> Plan:
        from bioio_spark.formats.nd2 import (decode_lv, nd2_seq_coords,
                                             read_nd2_attributes,
                                             read_nd2_chunk,
                                             read_nd2_chunkmap,
                                             read_nd2_experiment,
                                             read_nd2_time_interval,
                                             resolve_nd2_loops)
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        path = os.path.abspath(self._path)
        attrs = read_nd2_attributes(path)
        cmap = read_nd2_chunkmap(path)
        seq_n = attrs["uiSequenceCount"]
        c_n = attrs["uiComp"]
        y_n, x_n = attrs["uiHeight"], attrs["uiWidth"]
        dtype = "u1" if attrs["uiBpcInMemory"] == 8 else "<u2"

        # SLxExperiment resolution: TimeLoop/NETimeLoop -> T, ZStackLoop
        # -> Z, XYPosLoop -> SCENES (the reference's bioio-nd2 maps
        # multi-position acquisitions to one scene per stage position);
        # unknown loop types keep the flat-T fallback
        kinds = resolve_nd2_loops(read_nd2_experiment(path), seq_n)
        if kinds is None:
            kinds = [("t", seq_n)]
        n = {"t": 1, "z": 1, "p": 1}
        for kind, count in kinds:
            n[kind] *= count

        names = self._channel_names
        if names is None and "ImageTextInfoLV!" in cmap:
            ti = decode_lv(read_nd2_chunk(
                path, "ImageTextInfoLV!", *cmap["ImageTextInfoLV!"]))
            items = ti.get("SLxImageTextInfo", {})
            got = [items[k] for k in sorted(items)
                   if k.startswith("TextInfoItem_")]
            if len(got) == c_n:
                names = got
        pps = self._pps
        if pps is None and attrs.get("dCalibration"):
            from bioio_spark.formats.nd2 import read_nd2_z_step

            cal = float(attrs["dCalibration"])
            pps = PhysicalPixelSizes(Z=read_nd2_z_step(path),
                                     Y=cal, X=cal)
        time_interval = read_nd2_time_interval(path)

        channels, scenes = [], []
        for p in range(n["p"]):
            channels += channel_rows(
                self._image_id, f"Image:{p}",
                resolve_channel_names(names, c_n, p))
            scenes.append(scene_row(
                self._image_id, f"Image:{p}", p, dtype,
                dict(T=n["t"], C=c_n, Z=n["z"], Y=y_n, X=x_n), pps=pps,
                time_interval=time_interval))
        plan = []
        for seq in range(seq_n):
            name = f"ImageDataSeq|{seq}!"
            if name not in cmap:
                raise KeyError(f"{path}: missing frame chunk {name}")
            # mixed-radix decomposition, innermost loop fastest
            co = nd2_seq_coords(kinds, seq)
            plan.append({"path": path, "scene": f"Image:{co['p']}",
                         "seq": seq, "t": co["t"], "z": co["z"],
                         "nc": c_n, "chunk": cmap[name][0],
                         # +8 skips the frame's timestamp double
                         "offset": 8,
                         "nbytes": y_n * x_n * c_n * (2 if dtype == "<u2"
                                                      else 1),
                         "dtype": dtype})
        return Plan(plan, scenes, channels)

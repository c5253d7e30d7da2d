"""LIF reader (.lif) — the reference's bioio-lif plugin tier (ref
README.md:62), over the in-repo pure-Python Leica block+XML codec
(bioio_spark.formats.lif).

- **Catalog (driver-side)**: one block walk + the settings XML —
  scene names, shapes, dtypes, channel strides, and physical pixel
  sizes (dimension Length metres -> µm), no pixel IO.
- **Pixels (executor-side)**: one plan row per (scene, t, c, z)
  PLANE; each task seek-reads its plane through the stride arithmetic
  (`read_lif_plane`) — parallelism = plane count, zero shuffle, one
  ranged GET per plane at object-store scale (the same planned-read
  shape as the DV and CZI tiers)."""

from __future__ import annotations

import os

import pandas as pd

from bioio_spark.sources.planned import Plan, PlannedReader, narrow_rows


class LifImageReader(PlannedReader):
    """BioImage reader over baseline LIF files (plugin tier)."""

    EXTENSIONS = (".lif",)
    DIM_ORDER_ERROR = "LIF dimensions come from the settings XML"
    narrow = staticmethod(narrow_rows)

    @classmethod
    def is_supported_image(cls, image) -> bool:
        if not isinstance(image, str) or not \
                image.lower().endswith(cls.EXTENSIONS):
            return False
        try:
            import struct

            with open(image, "rb") as f:
                head = f.read(8)
            return len(head) == 8 and \
                struct.unpack("<i", head[:4])[0] == 0x70
        except OSError:
            return False

    @staticmethod
    def decode_tiles(rows):
        """Rows ``y0 .. y0 + h`` of each (scene_i, m, t, c, z) plane via
        the stride arithmetic, one header parse per file and batch."""
        from bioio_spark.formats.lif import parse_lif_header, read_lif_plane

        headers = {p: parse_lif_header(p) for p in rows["path"].unique()}
        for r in rows.itertuples(index=False):
            yield r, read_lif_plane(
                r.path, headers[r.path], r.scene_i, r.t, r.c, r.z,
                m=max(r.m, 0), y0=r.y0, y1=r.y0 + r.h)

    def plan(self) -> Plan:
        from bioio_spark.formats.lif import parse_lif_header
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        paths = self.paths(self._path)
        if len(paths) != 1:
            raise ValueError("LifImageReader reads one .lif file")
        path = os.path.abspath(paths[0])
        header = parse_lif_header(path)
        if not header["scenes"]:
            raise ValueError(f"{path}: LIF holds no images")

        scenes, channels, tile_rows, plan = [], [], [], []
        for si, sc in enumerate(header["scenes"]):
            t_n, c_n, z_n, y_n, x_n = sc["shape"]
            m_n = sc.get("m_n", 1)
            scene = f"Image:{si}"
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, c_n, si))
            pps = self._pps
            if pps is None and sc["pps"]:
                pz, py, px_ = sc["pps"]
                pps = PhysicalPixelSizes(Z=pz, Y=py, X=px_)
            # tile-scan stage positions (µm) -> pixel offsets for the
            # M1 stitch, via the scene's pixel size
            if m_n > 1 and sc.get("tiles_um") and pps and pps.Y \
                    and pps.X:
                ys = [p_[0] for p_ in sc["tiles_um"]]
                xs = [p_[1] for p_ in sc["tiles_um"]]
                for m, (py_, px2) in enumerate(sc["tiles_um"]):
                    tile_rows.append({
                        "image_id": self._image_id, "scene": scene,
                        "m": m,
                        "y_off": int(round((py_ - min(ys)) / pps.Y)),
                        "x_off": int(round((px2 - min(xs)) / pps.X))})
            scenes.append(scene_row(
                self._image_id, scene, si, sc["dtype"],
                dict(T=t_n, C=c_n, Z=z_n, Y=y_n, X=x_n,
                     M=m_n if m_n > 1 else None),
                dim_order=("M" if m_n > 1 else "") + "TCZYX", pps=pps,
                metadata=header["xml"]))
            plan += [{"path": path, "scene": scene, "scene_i": si,
                      "m": m if m_n > 1 else -1, "t": t, "c": c, "z": z}
                     for m in range(m_n) for t in range(t_n)
                     for c in range(c_n) for z in range(z_n)]
        return Plan(plan, scenes, channels,
                    tiles=pd.DataFrame(tile_rows) if tile_rows else None)

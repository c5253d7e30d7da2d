"""Yokogawa CellVoyager (CQ1 / CV7000 / CV8000) codec — the
high-content-screening plate layout the reference routes to
bioio-bioformats (the CellVoyager rows of the Bio-Formats long tail;
ref README.md:74). A measurement is a DIRECTORY (public layout,
mirrored by Bio-Formats' CellVoyagerReader):

- ``MeasurementData.mlf``: XML in the ``bts`` namespace; one
  ``<bts:MeasurementRecord>`` per acquired PLANE with attributes
  ``Type="IMG"``, ``Row``/``Column`` (the well), ``FieldIndex`` (the
  stage field within the well), ``TimePoint``/``ZIndex``/``Ch``
  (1-based), stage ``X``/``Y`` coordinates, and the TIFF file name as
  element text
- ``MeasurementDetail.mrf``: acquisition detail (channel names,
  pixel size) — the subset this codec reads
- one single-plane TIFF per record

So the plate maps naturally onto the BioImage model: WELLS are
scenes, FIELDS are mosaic (M) tiles with stage positions feeding the
M1 stitch, and every record is a planned one-file read.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from typing import Optional, Sequence

import numpy as np

BTS_NS = "http://www.yokogawa.co.jp/BTS/BTSSchema/1.0"
MLF_NAME = "MeasurementData.mlf"
MRF_NAME = "MeasurementDetail.mrf"


def build_mlf(records: Sequence[dict]) -> str:
    root = ET.Element(f"{{{BTS_NS}}}MeasurementData")
    for r in records:
        el = ET.SubElement(root, f"{{{BTS_NS}}}MeasurementRecord")
        for k, v in (("Type", "IMG"), ("Row", r["row"]),
                     ("Column", r["column"]),
                     ("TimePoint", r["t"] + 1),
                     ("FieldIndex", r["field"] + 1),
                     ("ZIndex", r["z"] + 1), ("Ch", r["c"] + 1),
                     ("X", r.get("x_um", 0.0) * 1e-6),
                     ("Y", r.get("y_um", 0.0) * 1e-6)):
            el.set(f"{{{BTS_NS}}}{k}", str(v))
        el.text = r["file"]
    return ET.tostring(root, encoding="unicode")


def build_mrf(channel_names: Sequence[str],
              um_per_px: float = 0.65) -> str:
    root = ET.Element(f"{{{BTS_NS}}}MeasurementDetail")
    root.set(f"{{{BTS_NS}}}HorizontalPixelDimension", str(um_per_px))
    root.set(f"{{{BTS_NS}}}VerticalPixelDimension", str(um_per_px))
    for i, nm in enumerate(channel_names):
        ch = ET.SubElement(root, f"{{{BTS_NS}}}MeasurementChannel")
        ch.set(f"{{{BTS_NS}}}Ch", str(i + 1))
        ch.set(f"{{{BTS_NS}}}Name", nm)
    return ET.tostring(root, encoding="unicode")


def encode_cellvoyager(wells: dict, out_dir: str,
                       channel_names: Optional[Sequence[str]] = None,
                       um_per_px: float = 0.65,
                       field_grid_um: float = 100.0) -> str:
    """wells: {(row, column): FTCZYX ndarray (fields, t, c, z, y, x)}
    -> a CellVoyager measurement directory (per-plane TIFFs + mlf/mrf
    XML). Fields lay out on a square grid with ``field_grid_um``
    spacing. Returns the directory."""
    from bioio_spark.formats.tiff import encode_tiff

    os.makedirs(out_dir, exist_ok=True)
    records = []
    c_n = None
    for (row, col), block in sorted(wells.items()):
        a = np.asarray(block)
        if a.ndim != 6:
            raise ValueError("each well is FTCZYX")
        f_n, t_n, ch_n, z_n, _y, _x = a.shape
        c_n = ch_n if c_n is None else c_n
        across = max(1, int(np.ceil(np.sqrt(f_n))))
        for fi in range(f_n):
            fy, fx = divmod(fi, across)
            for t in range(t_n):
                for c in range(ch_n):
                    for z in range(z_n):
                        fn = (f"W{row:02d}{col:02d}_F{fi + 1:03d}"
                              f"_T{t + 1:04d}_Z{z + 1:03d}"
                              f"_C{c + 1:02d}.tif")
                        with open(os.path.join(out_dir, fn),
                                  "wb") as f:
                            f.write(encode_tiff([a[fi, t, c, z]]))
                        records.append({
                            "row": row, "column": col, "field": fi,
                            "t": t, "c": c, "z": z, "file": fn,
                            "x_um": fx * field_grid_um,
                            "y_um": fy * field_grid_um,
                        })
    with open(os.path.join(out_dir, MLF_NAME), "w") as f:
        f.write(build_mlf(records))
    names = list(channel_names) if channel_names else \
        [f"Ch{i + 1}" for i in range(c_n or 1)]
    with open(os.path.join(out_dir, MRF_NAME), "w") as f:
        f.write(build_mrf(names, um_per_px=um_per_px))
    return out_dir


def _attr(el, name):
    return el.get(f"{{{BTS_NS}}}{name}") or el.get(name)


def read_cellvoyager_catalog(path: str) -> dict:
    """Driver-side catalog from the two XML documents only: wells,
    per-well field/axis sizes, stage positions (µm), channel names,
    pixel size. No pixel IO (plane geometry comes from one TIFF
    header read)."""
    mlf_path = os.path.join(path, MLF_NAME)
    if not os.path.isfile(mlf_path):
        raise FileNotFoundError(f"{path}: no {MLF_NAME}")
    root = ET.parse(mlf_path).getroot()
    if not root.tag.endswith("MeasurementData"):
        raise ValueError(f"{path}: {MLF_NAME} is not MeasurementData")
    records = []
    for el in root:
        if not el.tag.endswith("MeasurementRecord"):
            continue
        if (_attr(el, "Type") or "IMG") != "IMG":
            continue
        records.append({
            "row": int(_attr(el, "Row")),
            "column": int(_attr(el, "Column")),
            "field": int(_attr(el, "FieldIndex") or 1) - 1,
            "t": int(_attr(el, "TimePoint") or 1) - 1,
            "c": int(_attr(el, "Ch") or 1) - 1,
            "z": int(_attr(el, "ZIndex") or 1) - 1,
            "x_um": float(_attr(el, "X") or 0.0) * 1e6,
            "y_um": float(_attr(el, "Y") or 0.0) * 1e6,
            "file": (el.text or "").strip(),
        })
    if not records:
        raise ValueError(f"{path}: {MLF_NAME} lists no IMG records")
    names, um = None, None
    mrf_path = os.path.join(path, MRF_NAME)
    if os.path.isfile(mrf_path):
        mroot = ET.parse(mrf_path).getroot()
        um_raw = _attr(mroot, "HorizontalPixelDimension")
        um = float(um_raw) if um_raw else None
        chans = {}
        for el in mroot:
            if el.tag.endswith("MeasurementChannel"):
                chans[int(_attr(el, "Ch"))] = _attr(el, "Name")
        if chans:
            names = [chans.get(i + 1) or f"Ch{i + 1}"
                     for i in range(max(chans))]
    wells: dict = {}
    for r in records:
        wells.setdefault((r["row"], r["column"]), []).append(r)
    for key, recs in wells.items():
        f_n = max(r["field"] for r in recs) + 1
        t_n = max(r["t"] for r in recs) + 1
        c_n = max(r["c"] for r in recs) + 1
        z_n = max(r["z"] for r in recs) + 1
        if len(recs) != f_n * t_n * c_n * z_n:
            raise ValueError(
                f"{path}: well {key} has {len(recs)} records, "
                f"grid says {f_n}x{t_n}x{c_n}x{z_n}")
    return {"records": records, "wells": sorted(wells),
            "channel_names": names, "um_per_px": um}

"""Leica SCN (.scn) codec — the Leica slide-scanner dialect of TIFF
that the reference routes to bioio-bioformats (the `.scn` row of the
Bio-Formats long tail; ref README.md:74). The container layout is
public (OpenSlide "Leica format" documentation; Bio-Formats
LeicaSCNReader):

- classic/Big TIFF whose IFD0 ImageDescription is an XML document in
  the ``http://www.leica-microsystems.com/scn/2010/10/01`` namespace
- ``<collection>`` holds one ``<image>`` per acquired area (the first
  is conventionally the whole-slide macro); each image's ``<pixels>``
  lists ``<dimension r=.. z=.. ifd=.. sizeX=.. sizeY=../>`` entries
  mapping (resolution level, focal plane) pairs to IFD indices
- pixel pages are tiled; levels shrink by powers of two

So the XML is the catalog: scenes = images, res_levels = r values,
z = focal planes, and every (scene, level, z) names its IFD.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Sequence

import numpy as np

SCN_NS = "http://www.leica-microsystems.com/scn/2010/10/01"


def build_scn_xml(images: Sequence[dict]) -> str:
    """images: [{name, size_x, size_y, levels: [{r, z, ifd, size_x,
    size_y}]}] -> SCN collection XML."""
    root = ET.Element("scn", xmlns=SCN_NS)
    coll = ET.SubElement(root, "collection")
    for im in images:
        img = ET.SubElement(coll, "image", name=im["name"])
        ET.SubElement(img, "view", sizeX=str(im["size_x"]),
                      sizeY=str(im["size_y"]), offsetX="0", offsetY="0")
        px = ET.SubElement(img, "pixels", sizeX=str(im["size_x"]),
                           sizeY=str(im["size_y"]))
        for lv in im["levels"]:
            ET.SubElement(px, "dimension", r=str(lv["r"]),
                          z=str(lv.get("z", 0)), ifd=str(lv["ifd"]),
                          sizeX=str(lv["size_x"]),
                          sizeY=str(lv["size_y"]))
    return ET.tostring(root, encoding="unicode")


def parse_scn_xml(xml: str) -> list[dict]:
    """SCN XML -> [{name, size_x, size_y, levels: [...]}] (namespace
    tolerated or absent — wild files vary in prefixing)."""
    root = ET.fromstring(xml)

    def local(tag):
        return tag.rsplit("}", 1)[-1]

    if local(root.tag) != "scn":
        raise ValueError("not an SCN XML document")
    out = []
    for coll in root:
        if local(coll.tag) != "collection":
            continue
        for img in coll:
            if local(img.tag) != "image":
                continue
            entry = {"name": img.get("name", f"image{len(out)}"),
                     "levels": []}
            for child in img:
                if local(child.tag) != "pixels":
                    continue
                entry["size_x"] = int(child.get("sizeX"))
                entry["size_y"] = int(child.get("sizeY"))
                for dim in child:
                    if local(dim.tag) != "dimension":
                        continue
                    entry["levels"].append({
                        "r": int(dim.get("r", 0)),
                        "z": int(dim.get("z", 0)),
                        "ifd": int(dim.get("ifd")),
                        "size_x": int(dim.get("sizeX")),
                        "size_y": int(dim.get("sizeY")),
                    })
            if entry["levels"]:
                out.append(entry)
    if not out:
        raise ValueError("SCN XML lists no images")
    return out


def encode_scn(images: Sequence[dict],
               tile: tuple = (64, 64)) -> bytes:
    """images: [{name, array}] where array is YX / YXS / ZYX / ZYXS
    uint8 -> .scn bytes: per image, per focal plane, tiled pages for
    ceil-half levels 0..n_levels-1; IFD0 carries the collection XML."""
    from bioio_spark.formats.svs import _halve
    from bioio_spark.formats.tiff_pages import PageSpec, compose_tiff

    pages: list[PageSpec] = []
    xml_images = []
    for im in images:
        a = np.asarray(im["array"])
        has_s = a.ndim >= 3 and a.shape[-1] in (3, 4) and \
            im.get("rgb", a.ndim == 3 and a.shape[-1] == 3)
        if a.ndim == 2 or (a.ndim == 3 and has_s):
            a = a[None]                       # add Z
        n_levels = im.get("n_levels", 1)
        z_n = a.shape[0]
        h, w = a.shape[1], a.shape[2]
        entry = {"name": im["name"], "size_x": w, "size_y": h,
                 "levels": []}
        for z in range(z_n):
            lvl = a[z]
            for r in range(n_levels):
                if r:
                    lvl = _halve(lvl)
                entry["levels"].append({
                    "r": r, "z": z, "ifd": len(pages),
                    "size_x": lvl.shape[1], "size_y": lvl.shape[0]})
                pages.append(PageSpec(lvl, tile=tile))
        xml_images.append(entry)
    xml = build_scn_xml(xml_images)
    pages[0].description = xml
    data, _ = compose_tiff(pages)
    return data


def read_scn_catalog(path: str) -> dict:
    """Driver-side catalog: IFD walk + XML parse; every (image, r, z)
    resolves to its page dict. No pixel IO (D8 contract)."""
    from bioio_spark.formats.tiff import iter_tiff_chunks

    pages = iter_tiff_chunks(path)
    desc = pages[0].get("description") or ""
    if "<scn" not in desc:
        raise ValueError(f"{path}: no SCN XML ImageDescription")
    images = parse_scn_xml(desc)
    for im in images:
        im["z_n"] = max(lv["z"] for lv in im["levels"]) + 1
        im["n_levels"] = max(lv["r"] for lv in im["levels"]) + 1
        for lv in im["levels"]:
            if lv["ifd"] >= len(pages):
                raise ValueError(
                    f"{path}: XML names ifd {lv['ifd']} but the file "
                    f"has {len(pages)} pages")
            pg = pages[lv["ifd"]]
            if (pg["h"], pg["w"]) != (lv["size_y"], lv["size_x"]):
                raise ValueError(
                    f"{path}: ifd {lv['ifd']} is "
                    f"{pg['w']}x{pg['h']}, XML says "
                    f"{lv['size_x']}x{lv['size_y']}")
            lv["page"] = pg
        # catalog level-dim rule: ceil-halving from level 0
        eh, ew = im["size_y"], im["size_x"]
        for r in range(1, im["n_levels"]):
            eh, ew = -(-eh // 2), -(-ew // 2)
            for lv in im["levels"]:
                if lv["r"] == r and (lv["size_y"], lv["size_x"]) != \
                        (eh, ew):
                    raise ValueError(
                        f"{path}: image {im['name']} level {r} is "
                        f"{lv['size_x']}x{lv['size_y']}, expected "
                        f"ceil-half {ew}x{eh}")
    return {"images": images, "pages": pages}

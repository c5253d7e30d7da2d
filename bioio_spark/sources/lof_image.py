"""Leica LOF (.lof) reader — native coverage for the single-object
LAS X export the reference routes to bioio-bioformats (ref
README.md:74 routes .lof). The container shares LIF's block framing
and XML vocabulary (bioio_spark.formats.lof), and parse_lif_header
transparently delegates to the LOF parser — so this reader IS the LIF
reader with LOF routing: the same one plan of per-plane stride reads,
and so the same window and planes reads.
"""

from __future__ import annotations

from bioio_spark.sources.lif_image import LifImageReader


class LofImageReader(LifImageReader):
    """BioImage reader over Leica LOF single-object files."""

    EXTENSIONS = (".lof",)

    @classmethod
    def is_supported_image(cls, image) -> bool:
        # the shared suffix-then-catalog probe, not LIF's block magic
        return super(LifImageReader, cls).is_supported_image(image)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.lof import parse_lof_header

        return parse_lof_header(path)

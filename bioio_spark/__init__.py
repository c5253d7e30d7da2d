"""bioio_spark — a PySpark-native analytics engine with the capabilities of
bioio-devs/bioio (microscopy image I/O + metadata normalization), re-expressed
relationally, plus the relational / LLM-data-pipeline operator contract from
SURVEY.md §2.

Design: images are long-form pixel tables + catalog dimension tables
(`scenes`, `channels`, `tiles`, `coords`); every axis operation the reference
performs on ndarrays (`/root/reference/bioio/bio_image.py`) becomes a Spark
DataFrame plan, so it is lazy, Catalyst-optimized, and oracle-checkable.
"""

from bioio_spark.session import get_session
from bioio_spark.dimensions import (Dimensions, DimensionNames,
                                    DEFAULT_DIMENSION_ORDER)
from bioio_spark.types import (ArrayLike, DimensionProperties, ImageLike,
                               MetaArrayLike, PathLike, PhysicalPixelSizes,
                               Scale, StandardMetadata, TimeInterval)
from bioio_spark.plugins import plugin_feasibility_report
from bioio_spark.writers import Writer
from bioio_spark.bio_image import (BioImage, imread, imread_dask,
                                   imread_df, imread_xarray,
                                   imread_xarray_dask)

__version__ = "0.1.0"


# (plugin name, reader module, reader class) in registration order — the
# order dump_plugins() lists and get_plugins() breaks ties by. Each
# reader declares its suffixes once, as ``EXTENSIONS``; the directory-
# probed readers (NDTiff, CellVoyager) and the glob reader declare none.
_BUILTIN_READERS = (
    ("bioio-ome-tiff-baseline", "tiff_image", "TiffImageReader"),
    ("bioio-png-baseline", "png_image", "PngImageReader"),
    ("bioio-ome-zarr-baseline", "zarr_image", "ZarrImageReader"),
    ("bioio-jpeg-baseline", "jpeg_image", "JpegImageReader"),
    ("bioio-nd2-baseline", "nd2_image", "Nd2ImageReader"),
    ("bioio-lif-baseline", "lif_image", "LifImageReader"),
    ("bioio-czi-baseline", "czi_image", "CziImageReader"),
    ("bioio-pnm-baseline", "pnm_image", "PnmImageReader"),
    ("bioio-gif-baseline", "gif_image", "GifImageReader"),
    ("bioio-bmp-baseline", "bmp_image", "BmpImageReader"),
    ("bioio-sldy-baseline", "sldy_image", "SldyImageReader"),
    ("bioio-dv-baseline", "dv_image", "DvImageReader"),
    ("bioio-lsm-baseline", "lsm_image", "LsmImageReader"),
    ("bioio-stk-baseline", "stk_image", "StkImageReader"),
    ("bioio-dng-baseline", "dng_image", "DngImageReader"),
    ("bioio-svs-baseline", "svs_image", "SvsImageReader"),
    ("bioio-scn-baseline", "scn_image", "ScnImageReader"),
    ("bioio-oif-baseline", "oif_image", "OifImageReader"),
    ("bioio-oib-baseline", "oib_image", "OibImageReader"),
    ("bioio-ndpi-baseline", "ndpi_image", "NdpiImageReader"),
    ("bioio-qptiff-baseline", "qptiff_image", "QptiffImageReader"),
    ("bioio-ims-baseline", "ims_image", "ImsImageReader"),
    ("bioio-ndtiff-baseline", "ndtiff_image", "NdtiffImageReader"),
    ("bioio-dicom-baseline", "dicom_image", "DicomImageReader"),
    ("bioio-lof-baseline", "lof_image", "LofImageReader"),
    ("bioio-mrc-baseline", "mrc_image", "MrcImageReader"),
    ("bioio-cellvoyager-baseline", "cellvoyager_image",
     "CellVoyagerImageReader"),
    ("bioio-avi-baseline", "avi_image", "AviImageReader"),
    ("bioio-mp4-baseline", "mp4_image", "Mp4ImageReader"),
    ("bioio-mkv-baseline", "mkv_image", "MkvImageReader"),
    ("bioio-mpeg1-baseline", "mpeg_image", "MpegImageReader"),
    ("bioio-biorad-pic-baseline", "pic_image", "PicImageReader"),
    ("bioio-zvi-baseline", "zvi_image", "ZviImageReader"),
    ("bioio-tiff-glob-baseline", "tiff_glob", "TiffGlobReader"),
)


def _register_builtin_plugins() -> None:
    """Expose the built-in readers through the plugin registry so
    S11/S12 diagnostics (feasibility report, dump) list them alongside
    any user plugins — the analog of the reference's bioio-ome-tiff
    entry point (ref README.md:54-80). Routing itself also works
    without this (built-in tier in bio_image._route), so tests that
    clear the registry lose only the listing, not the capability."""
    from importlib import import_module

    from bioio_spark.plugins import (PluginEntry, _REGISTRY,
                                     register_plugin)

    if any(e.name.startswith("bioio-") for e in _REGISTRY):
        return  # idempotent: already registered this session
    for name, module, cls_name in _BUILTIN_READERS:
        cls = getattr(import_module(f"bioio_spark.sources.{module}"),
                      cls_name)
        register_plugin(PluginEntry(
            name=name, reader=cls, extensions=list(cls.EXTENSIONS),
            is_supported_image=cls.is_supported_image,
            version=__version__))


_register_builtin_plugins()

# External packages advertising the bioio_spark.readers / .writers
# entry-point groups register at import, like the reference's
# entry-point enumeration (ref plugins.py:230-300). A failure in a
# third-party dist must not break the core import.
try:
    from bioio_spark.plugins import discover_plugins as _dp
    from bioio_spark.writers import discover_writers as _dw

    _dp()
    _dw()
except Exception:  # pragma: no cover - defensive
    pass

__all__ = [
    "get_session",
    "ArrayLike",
    "BioImage",
    "DEFAULT_DIMENSION_ORDER",
    "DimensionNames",
    "DimensionProperties",
    "Dimensions",
    "ImageLike",
    "MetaArrayLike",
    "PathLike",
    "PhysicalPixelSizes",
    "Scale",
    "StandardMetadata",
    "TimeInterval",
    "Writer",
    "imread",
    "imread_dask",
    "imread_df",
    "imread_xarray",
    "imread_xarray_dask",
    "plugin_feasibility_report",
]

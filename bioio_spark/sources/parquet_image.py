"""Native-format reader: BioImage("...parquet") — the engine's own sink
read back through the standard reader interface (S4 routing treats it like
the built-in ArrayLikeReader tier; ref bio_image.py:264-276 routes built-ins
after plugins).
"""

from __future__ import annotations


class ParquetImageReader:
    """Reader-protocol adapter over writers.read_parquet_image."""

    @staticmethod
    def is_supported_image(image) -> bool:
        return isinstance(image, str) and image.rstrip("/").endswith(
            ".parquet")

    def __init__(self, image: str, dim_order=None, channel_names=None,
                 physical_pixel_sizes=None, image_id: str = "img",
                 **_kwargs):
        if dim_order is not None or channel_names is not None:
            raise ValueError(
                "parquet images carry their own dims/channels; "
                "dim_order/channel_names overrides are not supported")
        self._uri = image
        self._image_id = image_id
        self._pps = physical_pixel_sizes

    def to_dataset(self, spark):
        from bioio_spark.writers import read_parquet_image

        ds = read_parquet_image(spark, self._uri, image_id=self._image_id)
        if self._pps is not None:
            ds.scenes["pps_z"] = self._pps.Z
            ds.scenes["pps_y"] = self._pps.Y
            ds.scenes["pps_x"] = self._pps.X
        return ds

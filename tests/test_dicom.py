"""DICOM (.dcm) codec + reader — native coverage for a format the
reference routes to bioio-bioformats (ref README.md:74); layout per
the public NEMA PS3.10/PS3.5 standard (Part-10 preamble, Explicit VR
Little Endian, contiguous multi-frame PixelData)."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.dicom import encode_dicom, parse_dicom
from bioio_spark.sources.dicom_image import DicomImageReader


def _vol(dtype="uint16"):
    idx = np.indices((4, 5, 6))
    return (idx[0] * 100 + idx[1] * 10 + idx[2]).astype(dtype)


def test_part10_structure(tmp_path):
    data = encode_dicom(_vol())
    assert data[:128] == b"\x00" * 128
    assert data[128:132] == b"DICM"
    # file meta group starts with (0002,0000) group length, explicit UL
    group, elem = struct.unpack("<HH", data[132:136])
    assert (group, elem) == (0x0002, 0x0000)
    assert data[136:138] == b"UL"


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int16"])
def test_parse_roundtrip_dtypes(tmp_path, dtype):
    vol = _vol(dtype)
    p = tmp_path / f"{dtype}.dcm"
    p.write_bytes(encode_dicom(vol))
    a = parse_dicom(str(p))
    assert (a["n_frames"], a["rows"], a["cols"]) == (4, 5, 6)
    assert a["dtype"] == np.dtype(dtype).newbyteorder("<")
    with open(p, "rb") as f:
        f.seek(a["pixel_offset"])
        back = np.frombuffer(f.read(a["pixel_length"]),
                             a["dtype"]).reshape(4, 5, 6)
    np.testing.assert_array_equal(back, vol)


def test_parse_skips_pixeldata(tmp_path):
    """The catalog walk never reads PixelData into memory — trailing
    elements after PixelData still parse (seek-skip pin)."""
    vol = _vol()
    data = bytearray(encode_dicom(vol, series_description="before"))
    # append a trailing element after PixelData
    data += struct.pack("<HH", 0x0008, 0x103E) + b"LO" + \
        struct.pack("<H", 6) + b"after "
    p = tmp_path / "t.dcm"
    p.write_bytes(bytes(data))
    a = parse_dicom(str(p))
    assert a["description"] == "after"


def test_rejects_compressed_transfer_syntax(tmp_path):
    data = encode_dicom(_vol())
    bad = data.replace(b"1.2.840.10008.1.2.1\x00",
                       b"1.2.840.10008.1.2.5\x00")
    p = tmp_path / "rle.dcm"
    p.write_bytes(bad)
    with pytest.raises(ValueError, match="transfer syntax"):
        parse_dicom(str(p))


def test_bio_image_volume(spark, tmp_path):
    vol = _vol()
    p = tmp_path / "v.dcm"
    p.write_bytes(encode_dicom(vol, pixel_spacing_mm=(0.5, 0.25),
                               slice_spacing_mm=1.0))
    img = BioImage(str(p), spark=spark)
    assert img.dims.shape == (1, 1, 4, 5, 6)
    pps = img.physical_pixel_sizes
    assert (pps.Z, pps.Y, pps.X) == (1000.0, 500.0, 250.0)
    np.testing.assert_array_equal(img.data[0, 0], vol)


def test_series_directory_scenes(spark, tmp_path):
    d = tmp_path / "series"
    d.mkdir()
    vols = [_vol(), (_vol() * 2).astype(np.uint16)]
    for i, v in enumerate(vols):
        (d / f"im{i}.dcm").write_bytes(encode_dicom(v))
    # extension-less dirs are selected explicitly, the tiff-glob
    # precedent
    img = BioImage(str(d), spark=spark, reader=DicomImageReader)
    assert img.scenes == ("Image:0", "Image:1")
    img.set_scene("Image:1")
    np.testing.assert_array_equal(img.data[0, 0], vols[1])


def test_window_read(spark, tmp_path):
    vol = _vol()
    p = tmp_path / "v.dcm"
    p.write_bytes(encode_dicom(vol))
    got = BioImage(str(p), spark=spark).read_window(
        z=(1, 3), y=(1, 4), x=(2, 5)).toPandas()
    sub = vol[1:3, 1:4, 2:5]
    got = got.sort_values(["z", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)


def test_routing(tmp_path):
    p = tmp_path / "v.dcm"
    p.write_bytes(encode_dicom(_vol()))
    assert DicomImageReader.is_supported_image(str(p))
    q = tmp_path / "x.dcm"
    q.write_bytes(b"not dicom")
    assert not DicomImageReader.is_supported_image(str(q))

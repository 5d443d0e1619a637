"""EXIF/TIFF + container metadata (datalib/exif.py) — writer→parser
roundtrips, the reference's own simple.jpg artifact, and the Spark
extract_media_metadata operator with the ExtractMediaMetadata knobs."""
import os

import pytest

from nifi_spark.datalib import exif, media_codec as mc
from nifi_spark.datalib.jpeg import encode_jpeg

REF_JPG = ("/root/reference/nifi-nar-bundles/nifi-standard-bundle/"
           "nifi-standard-processors/src/test/resources/simple.jpg")


def _tiff_dict(data):
    return {(d, n): v for d, n, v in exif.parse_tiff(data)}


class TestTiffRoundtrip:
    def test_all_value_kinds(self):
        t = exif.build_tiff(
            {0x010F: "A Very Long Maker Name Inc.",  # ASCII > 4 bytes
             0x0110: "ab",                            # ASCII <= 4 (inline)
             0x0112: 6,                               # SHORT
             0x0117: [70000, 80000],                  # LONG array
             0x011A: (300, 1),                        # RATIONAL
             0x0213: [1, 2, 3]},                      # SHORT array
            {0x9000: b"0221",                         # UNDEFINED printable
             0xA302: b"\x00\x01\x02",                 # UNDEFINED binary
             0x9102: [(5, 2), (7, 3)]})               # RATIONAL array
        got = _tiff_dict(t)
        assert got[("IFD0", "Make")] == "A Very Long Maker Name Inc."
        assert got[("IFD0", "Model")] == "ab"
        assert got[("IFD0", "Orientation")] == "6"
        assert got[("IFD0", "StripByteCounts")] == "70000 80000"
        assert got[("IFD0", "XResolution")] == "300/1"
        assert got[("IFD0", "YCbCrPositioning")] == "1 2 3"
        assert got[("ExifIFD", "ExifVersion")] == "0221"
        assert got[("ExifIFD", "CFAPattern")] == "000102"
        assert got[("ExifIFD", "CompressedBitsPerPixel")] == "5/2 7/3"

    def test_big_endian(self):
        t = exif.build_tiff({0x010F: "BE", 0x0112: 3}, bo=">")
        got = _tiff_dict(t)
        assert got[("IFD0", "Make")] == "BE"
        assert got[("IFD0", "Orientation")] == "3"

    def test_unknown_tag_renders_hex(self):
        t = exif.build_tiff({0xBEEF: 7})
        assert _tiff_dict(t)[("IFD0", "Tag0xBEEF")] == "7"

    def test_truncated_is_lenient(self):
        t = exif.build_tiff({0x010F: "Maker name out of line"})
        # chop the out-of-line heap: entry skipped, no crash
        assert exif.parse_tiff(t[:16]) == []


class TestContainers:
    def test_jpeg_app1_roundtrip(self):
        j = encode_jpeg(8, 8, 1, bytes(64), quant=1)
        j2 = exif.insert_app1(j, exif.build_exif_app1({0x010F: "X"}))
        got = dict(exif.parse_jpeg_metadata(j2))
        assert got["IFD0.Make"] == "X"
        assert got["JPEG.ImageWidth"] == "8"
        assert got["JPEG.Progressive"] == "false"
        # still decodable after the splice
        w, h, c, px = mc.decode_image(j2)
        assert (w, h, c) == (8, 8, 1)

    def test_png_text_roundtrip(self):
        p = mc.encode_png(3, 3, 1, bytes(9))
        p2 = exif.insert_png_text(p, [("Title", "t"), ("Comment", "c")])
        got = dict(exif.parse_png_metadata(p2))
        assert got["PNG-tEXt.Title"] == "t"
        assert got["PNG-tEXt.Comment"] == "c"
        assert got["PNG.ImageWidth"] == "3"
        w, h, c, px = mc.decode_image(p2)  # CRC-correct splice
        assert (w, h) == (3, 3)

    def test_wav_info_roundtrip_and_riff_size(self):
        w = mc.encode_wav(44100, 2, [1, -1, 2, -2])
        w2 = exif.insert_wav_info(w, [("Title", "odd"), ("Artist", "ab")])
        assert int.from_bytes(w2[4:8], "little") == len(w2) - 8
        got = dict(exif.parse_wav_metadata(w2))
        assert got["WAV-INFO.Title"] == "odd"
        assert got["WAV-INFO.Artist"] == "ab"
        assert got["WAV.SampleRate"] == "44100"
        assert got["WAV.Channels"] == "2"
        rate, ch, samples = mc.decode_wav(w2)
        assert samples == [1, -1, 2, -2]

    def test_mp4_metadata(self):
        from nifi_spark.datalib.mp4 import encode_mp4
        frames = [mc.encode_png(4, 4, 3, bytes(48))] * 3
        blob = encode_mp4(frames, 4, 4, sample_duration=500, timescale=1000)
        got = dict(exif.extract_metadata_blob(blob))
        assert got["MediaType"] == "video/mp4"
        assert got["MP4.SampleCount"] == "3"
        assert got["MP4.DurationMs"] == "1500"


@pytest.mark.skipif(not os.path.exists(REF_JPG),
                    reason="reference artifacts not mounted")
class TestReferenceArtifact:
    def test_simple_jpg_exif(self):
        """The reference's own test image (TestIdentifyMimeType +
        nifi-media-bundle fixtures): a real Canon PowerShot S330 Exif
        block, big-endian TIFF, Exif sub-IFD + thumbnail IFD1."""
        got = dict(exif.parse_jpeg_metadata(open(REF_JPG, "rb").read()))
        assert got["IFD0.Make"] == "Canon"
        assert got["IFD0.Model"] == "Canon PowerShot S330"
        assert got["IFD0.Software"] == "QuickTime 6.0.2"
        assert got["IFD0.DateTime"] == "2002:11:18 22:46:09"
        assert got["IFD0.XResolution"] == "11796480/65536"
        assert got["ExifIFD.DateTimeOriginal"] == "2002:11:16 15:27:01"
        assert got["ExifIFD.ExposureTime"] == "1/10"
        assert got["ExifIFD.FNumber"] == "47/10"
        assert got["ExifIFD.PixelXDimension"] == "1600"
        assert got["ExifIFD.PixelYDimension"] == "1200"
        assert got["ExifIFD.ExifVersion"] == "0210"
        assert got["IFD1.Compression"] == "6"  # thumbnail IFD chained
        # the SOF frame header says 800x600 — the Exif PixelXDimension
        # (1600) is stale, as real camera files often are; both surface
        assert got["JPEG.ImageWidth"] == "800"
        assert got["JPEG.ImageHeight"] == "600"
        assert got["JPEG.Progressive"] == "false"


class TestSparkOperator:
    def test_knobs(self, spark):
        from nifi_spark.datalib.multimodal import (extract_media_metadata,
                                                   synthesize_tagged_media)
        ids = spark.range(0, 9).withColumnRenamed("id", "doc_id")
        media = synthesize_tagged_media(ids, "doc_id")
        allrows = extract_media_metadata(media).toPandas()
        assert set(allrows[allrows.id == 0].key) >= {
            "IFD0.Make", "ExifIFD.ISOSpeedRatings", "JFIF.Version"}
        # filter applies before prefix; prefix prepends after
        filt = extract_media_metadata(
            media, key_prefix="m.", key_filter=r"^IFD0\.").toPandas()
        assert set(filt.key.str[:7]) == {"m.IFD0."}
        # max_attrs caps per payload deterministically (document order)
        capped = extract_media_metadata(media, max_attrs=1).toPandas()
        assert (capped.groupby("id").size() == 1).all()
        assert set(capped.key) == {"MediaType"}


class TestResize:
    def test_identity_and_floor_mapping(self):
        px = bytes(range(4 * 2 * 3))
        assert mc.resize_raster(4, 2, 3, px, 4, 2) == px
        # floor mapping picks src columns 0 and 2, row 0
        assert mc.resize_raster(4, 2, 3, px, 2, 1) == px[0:3] + px[6:9]

    def test_upscale_duplicates_nearest(self):
        px = bytes([10, 20, 30, 40])
        out = mc.resize_raster(2, 2, 1, px, 4, 4)
        assert out == bytes([10, 10, 20, 20] * 2 + [30, 30, 40, 40] * 2)

    def test_bilinear_matches_numpy_reference(self):
        import numpy as np
        rng_px = bytes((7 * k + 3) % 256 for k in range(6 * 4 * 3))
        out = mc.resize_raster(6, 4, 3, rng_px, 9, 5, "bilinear")
        src = np.frombuffer(rng_px, np.uint8).reshape(4, 6, 3).astype(float)
        xs = np.clip((np.arange(9) + 0.5) * 6 / 9 - 0.5, 0, 5)
        ys = np.clip((np.arange(5) + 0.5) * 4 / 5 - 0.5, 0, 3)
        exp = np.empty((5, 9, 3))
        for yi, y in enumerate(ys):
            for xi, x in enumerate(xs):
                x0, y0 = int(x), int(y)
                x1, y1 = min(x0 + 1, 5), min(y0 + 1, 3)
                fx, fy = x - x0, y - y0
                exp[yi, xi] = ((src[y0, x0] * (1 - fx) + src[y0, x1] * fx) * (1 - fy)
                               + (src[y1, x0] * (1 - fx) + src[y1, x1] * fx) * fy)
        assert out == bytes(np.floor(exp + 0.5).astype(np.uint8).tobytes())

    def test_bilinear_constant_image_exact(self):
        px = bytes([99] * 5 * 3 * 3)
        assert mc.resize_raster(5, 3, 3, px, 11, 7, "bilinear") == bytes([99] * 11 * 7 * 3)

    def test_unknown_algorithm(self):
        with pytest.raises(ValueError):
            mc.resize_raster(2, 2, 1, bytes(4), 1, 1, "lanczos")

    @pytest.mark.skipif(not os.path.exists(REF_JPG),
                        reason="reference artifacts not mounted")
    def test_resize_reference_jpeg(self):
        w, h, c, px = mc.decode_image(open(REF_JPG, "rb").read())
        assert (w, h, c) == (800, 600, 3)
        out = mc.resize_raster(w, h, c, px, 80, 60)
        assert len(out) == 80 * 60 * 3
        # photographic content survives: non-trivial dynamic range
        assert max(out) - min(out) > 50

    def test_spark_operator_quarantines_undecodable(self, spark):
        from nifi_spark.datalib.multimodal import resize_images
        import pyspark.sql.functions as F
        df = spark.range(2).select(
            "id", F.when(F.col("id") == 0,
                         F.lit(mc.encode_png(2, 2, 1, bytes(4))))
                   .otherwise(F.lit(b"not an image")).alias("payload"))
        got = resize_images(df, 3, 3).toPandas().set_index("id")
        assert got.loc[0, "payload"] is not None
        assert got.loc[1, "payload"] is None


REF_MEDIA_RES = ("/root/reference/nifi-nar-bundles/nifi-media-bundle/"
                 "nifi-media-processors/src/test/resources")


@pytest.mark.skipif(not os.path.isdir(REF_MEDIA_RES),
                    reason="reference repo absent")
def test_mp3_ogg_reference_fixture_parity(spark):
    """TestExtractMediaMetadata's mp3/ogg cases on the reference's own
    fixtures: audio/mpeg + title 'Test Title' (ID3v1), audio/vorbis
    with the comment block, and the corrupt Ogg routing to failure."""
    from nifi_spark.datalib.multimodal import extract_media_metadata
    mp3 = open(os.path.join(REF_MEDIA_RES, "testMP3id3v1.mp3"),
               "rb").read()
    md = dict(exif.parse_mp3_metadata(mp3))
    assert md["Content-Type"] == "audio/mpeg"
    assert md["title"] == "Test Title" and md["artist"] == "Test Artist"
    assert md["MP3.Version"] == "MPEG-1" and md["MP3.Layer"] == "III"
    assert md["MP3.Bitrate"] == "128 kbps" and md["MP3.SampleRate"] == "44100"
    ogg = open(os.path.join(REF_MEDIA_RES, "testVORBIS.ogg"),
               "rb").read()
    od = dict(exif.parse_ogg_metadata(ogg))
    assert od["Content-Type"].startswith("audio/vorbis")
    assert od["OGG.title"] == "Test Title"
    assert (od["OGG.Channels"], od["OGG.SampleRate"]) == ("2", "44100")
    # Spark path: corrupt fixture routes to the _error failure analog
    bad = open(os.path.join(REF_MEDIA_RES, "testVORBIS-corrupt.ogg"),
               "rb").read()
    import pyspark.sql.functions as F
    df = spark.createDataFrame(
        [(0, bytearray(mp3)), (1, bytearray(bad))],
        "id long, payload binary")
    rows = extract_media_metadata(df, key_prefix="x.").collect()
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["id"], {})[r["key"]] = r["value"]
    assert by_id[0]["x.title"] == "Test Title"
    assert "_error" in by_id[1] and len(by_id[1]) == 1


@pytest.mark.skipif(not os.path.isdir(REF_MEDIA_RES),
                    reason="reference repo absent")
def test_gif_metadata_reference_parity():
    """ExtractImageMetadataTest's GIF assertions on its own photoshop
    fixture: 8x12, 32-color sorted=false table, bpp 5, transparent
    index 8, version 89a."""
    d = dict(exif.extract_metadata_blob(open(os.path.join(
        REF_MEDIA_RES, "photoshop-8x12-32colors-alpha.gif"),
        "rb").read()))
    assert d["GIF.ImageWidth"] == "8" and d["GIF.ImageHeight"] == "12"
    assert d["GIF.ColorTableSize"] == "32"
    assert d["GIF.HasGlobalColorTable"] == "true"
    assert d["GIF.BitsPerPixel"] == "5"
    assert d["GIF.IsColorTableSorted"] == "false"
    assert d["GIF.TransparentColorIndex"] == "8"
    assert d["GIF.Version"] == "89a"
    p = dict(exif.extract_metadata_blob(open(os.path.join(
        REF_MEDIA_RES, "mspaint-8x10.png"), "rb").read()))
    # the filename lies; the reference asserts 8x12 too
    assert p["PNG.ImageWidth"] == "8" and p["PNG.ImageHeight"] == "12"


def test_truncated_blobs_route_to_error(spark):
    """Truncated/malformed blobs raise IndexError or struct.error from
    the offset walks, not ValueError — all must land on the `_error`
    failure-routing pair instead of crashing the Arrow task (r4 ADVICE
    item)."""
    from nifi_spark.datalib.multimodal import extract_media_metadata
    blobs = [
        b"ID3\x04\x00",                    # ID3 magic, < 10 bytes
        b"OggS" + b"\x00" * 6,             # truncated Ogg page header
        b"GIF89a\x08",                     # truncated GIF header
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)],
        "id long, payload binary")
    rows = extract_media_metadata(df).collect()
    by_id: dict = {}
    for r in rows:
        by_id.setdefault(r["id"], {})[r["key"]] = r["value"]
    for i in range(len(blobs)):
        assert set(by_id.get(i, {})) == {"_error"}, (i, by_id.get(i))
    # the exception class is surfaced for triage
    assert by_id[0]["_error"].startswith("IndexError")
    assert by_id[2]["_error"].startswith("error:")      # struct.error


def test_bmp_core_header_rejected():
    """OS/2 BITMAPCOREHEADER (hdr_size=12) paletted BMPs would decode
    garbage through the absolute-offset BITMAPINFOHEADER reads — they
    must fail loudly instead (r4 ADVICE item)."""
    import struct as _s
    import pytest as _pt
    # minimal BITMAPCOREHEADER file: BM + file header + 12-byte core DIB
    core = _s.pack("<IHHHH", 12, 2, 2, 1, 8)
    hdr = b"BM" + _s.pack("<IHHI", 14 + 12 + 3 * 256 + 16, 0, 0,
                          14 + 12 + 3 * 256)
    blob = hdr + core + b"\x00" * (3 * 256) + b"\x00" * 16
    with _pt.raises(ValueError, match="DIB header size 12"):
        mc.decode_bmp(blob)


def _id3v2(ver: int, frames: bytes, flags: int = 0) -> bytes:
    n = len(frames)
    size = bytes(((n >> 21) & 0x7F, (n >> 14) & 0x7F,
                  (n >> 7) & 0x7F, n & 0x7F))
    return b"ID3" + bytes((ver, 0, flags)) + size + frames


def test_id3v2_text_frames():
    """ID3v2.3 plain sizes, v2.4 syncsafe + utf-8, v2.2 3-byte ids —
    text frames land raw AND mapped onto the ID3v1-compatible keys."""
    from nifi_spark.datalib.exif import parse_mp3_metadata

    def frame3(fid, enc, text):
        data = bytes([enc]) + text
        return fid + len(data).to_bytes(4, "big") + b"\x00\x00" + data

    v23 = _id3v2(3, frame3(b"TIT2", 0, b"My Song")
                 + frame3(b"TPE1", 1, "Artíst".encode("utf-16"))
                 + frame3(b"TALB", 0, b"Album X\x00junk"))
    md = dict(parse_mp3_metadata(v23))
    assert md["MP3.ID3v2"] == "2.3.0"
    assert md["title"] == "My Song"
    assert md["artist"] == "Artíst"
    assert md["album"] == "Album X"          # NUL-terminated
    assert md["MP3.ID3v2.TIT2"] == "My Song"

    def frame4(fid, enc, text):
        data = bytes([enc]) + text
        n = len(data)
        ss = bytes(((n >> 21) & 0x7F, (n >> 14) & 0x7F,
                    (n >> 7) & 0x7F, n & 0x7F))
        return fid + ss + b"\x00\x00" + data

    v24 = _id3v2(4, frame4(b"TIT2", 3, "Søng 🎵".encode("utf-8"))
                 + frame4(b"TDRC", 0, b"2026"))
    md = dict(parse_mp3_metadata(v24))
    assert md["title"] == "Søng 🎵" and md["year"] == "2026"

    def frame2(fid, enc, text):
        data = bytes([enc]) + text
        return fid + len(data).to_bytes(3, "big") + data

    v22 = _id3v2(2, frame2(b"TT2", 0, b"Old Title")
                 + frame2(b"TRK", 0, b"7"))
    md = dict(parse_mp3_metadata(v22))
    assert md["title"] == "Old Title" and md["track"] == "7"


def test_id3v1_wins_over_id3v2_on_conflict():
    """Tika fallback order: when both tags exist, the v1 values (parsed
    last) win in the flattened dict — the reference's test fixture
    asserts its v1 'Test Title'."""
    from nifi_spark.datalib.exif import parse_mp3_metadata

    def frame3(fid, text):
        data = b"\x00" + text
        return fid + len(data).to_bytes(4, "big") + b"\x00\x00" + data

    v1 = (b"TAG" + b"V1 Title".ljust(30, b"\x00")
          + b"V1 Artist".ljust(30, b"\x00") + b"\x00" * 30
          + b"2020" + b"\x00" * 30 + b"\x00")
    blob = _id3v2(3, frame3(b"TIT2", b"V2 Title")) + v1
    md = dict(parse_mp3_metadata(blob))
    assert md["title"] == "V1 Title"
    assert md["MP3.ID3v2.TIT2"] == "V2 Title"


def test_id3v2_unsynchronised_or_compressed_tag_yields_no_frames():
    """An unsynchronised tag (flag 0x80) stuffs 0x00 after every 0xFF, so
    its frame sizes and text are not plain bytes; a v2.2 tag with flag
    0x40 is compressed. Neither is parsed into frames — only the
    version pair is reported."""
    from nifi_spark.datalib.exif import parse_mp3_metadata

    def frame3(fid, text):
        data = b"\x00" + text
        return fid + len(data).to_bytes(4, "big") + b"\x00\x00" + data

    # "\xff\x00" is the unsynchronised form of the text byte 0xFF
    unsync = _id3v2(3, frame3(b"TIT2", b"Caf\xff\x00 Song"), flags=0x80)
    md = dict(parse_mp3_metadata(unsync))
    assert md["MP3.ID3v2"] == "2.3.0"
    assert not any(k.startswith("MP3.ID3v2.") for k in md)
    assert "title" not in md

    frame2 = b"TT2" + (1 + 9).to_bytes(3, "big") + b"\x00Old Title"
    md = dict(parse_mp3_metadata(_id3v2(2, frame2, flags=0x40)))
    assert md["MP3.ID3v2"] == "2.2.0"
    assert "title" not in md and "MP3.ID3v2.TT2" not in md

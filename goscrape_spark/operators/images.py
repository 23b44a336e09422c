"""Image recoding (C19): JPEG/PNG -> JPEG at quality Q, keep only if smaller.

Port of ``checkImageForRecode``/``recodeJPEG``/``recodePNG``
(scraper/images.go:17-99): recoding runs only when 1 <= quality <= 99
(scraper/scraper.go:132-135 clamps everything else to 0 = disabled), a
decode error keeps the original bytes (images.go:66-68 returns nil -> keep
data), and the recoded bytes replace the original only when strictly
smaller ("only use the new file if it is smaller", images.go:70-79).

Codec: one, the vendored pure-NumPy codec (functions/imagecodec.py — PNG
+ baseline JPEG, built from the public T.81/RFC-2083 specs), so the
recoded bytes do not depend on what an executor has installed.
Progressive JPEG / exotic PNG variants decode to None and pass through,
exactly the reference's decode-error behavior.

Documented divergences from Go image/png (both are keep-original-bytes
pass-throughs, so output differs from the reference only in SIZE, never
in correctness of served content):

* PNGs with > 8 MB (``functions.imagecodec._SLOW_FILTER_BYTE_CAP``) of
  Average/Paeth-filtered scanlines are NOT recoded (the per-byte Python
  unfilter would pin an executor core); the reference would recode them.
  Large photographic PNGs commonly use Paeth, so offline-mirror sizes can
  exceed the reference's.
* PNGs whose IHDR implies > 256 MB of raw scanline data are refused, and
  IDAT inflation is hard-bounded at the IHDR-derived size (zlib-bomb
  guard; untrusted crawl payloads must not allocate GBs in an executor).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.filetype import sniff_extension


def recode_image_bytes(data: bytes, quality: int) -> bytes:
    """Recode one image; returns the smaller of original/recoded
    (scraper/images.go:62-79).  Non-JPEG/PNG payloads and decode failures
    pass through unchanged."""
    if quality < 1 or quality > 99:
        return data
    ext = sniff_extension(data)
    if ext not in ("jpg", "png"):
        return data
    from ..functions.imagecodec import jpeg_decode, jpeg_encode, png_decode
    arr = png_decode(data) if ext == "png" else jpeg_decode(data)
    if arr is None:
        return data
    recoded = jpeg_encode(arr, quality)
    return recoded if len(recoded) < len(data) else data


def recode_images_df(fetched: DataFrame, quality: int,
                     url_col: str = "url",
                     body_col: str = "body") -> DataFrame:
    """Arrow-batched recode over fetched image rows (off the hot path —
    scraper/download.go:58-63 applies it only to the images queue)."""
    src = fetched.select(F.col(url_col).alias("url"),
                         F.col(body_col).alias("body"))

    def run(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            bodies = [recode_image_bytes(
                bytes(b) if b is not None else b"", quality)
                for b in pdf["body"]]
            yield pd.DataFrame({"url": pdf["url"], "body": bodies})

    return src.mapInPandas(run, schema="url string, body binary")

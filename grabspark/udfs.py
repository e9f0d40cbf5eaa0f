"""Arrow-vectorized pandas UDFs over the pure-core kernels.

All crawl-path Python is Arrow-batched (input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python)"): pandas str ops for URL/text
kernels, per-row numpy (C-speed on binary payloads) only inside the image
decode/validate mapInPandas stage.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import imaging, textkit, urlkit

canon_ref_udf = F.pandas_udf(urlkit.canon_ref_s, StringType())
_URL_PARTS = StructType(
    [
        StructField("url_canon", StringType()),
        StructField("host", StringType()),
        StructField("fetch_key", StringType()),
    ]
)
url_parts_udf = F.pandas_udf(urlkit.url_parts_s, _URL_PARTS)
# Same kernel for a column that a Filter then reads: Catalyst substitutes
# a deterministic UDF into the pushed-down predicate, so the plan would
# parse every url twice (two ArrowEvalPython nodes, two Python workers
# per task).  The nondeterministic flag keeps the Filter above the one
# evaluation; the kernel itself is pure.
url_parts_once_udf = F.pandas_udf(urlkit.url_parts_s, _URL_PARTS).asNondeterministic()
canon_full_udf = F.pandas_udf(urlkit.canon_full_s, StringType())
fetch_key_udf = F.pandas_udf(urlkit.fetch_key_s, StringType())
host_of_udf = F.pandas_udf(urlkit.host_of_s, StringType())
export_name_udf = F.pandas_udf(urlkit.export_name_s, StringType())
clean_text_udf = F.pandas_udf(textkit.clean_text_s, StringType())
extract_links_udf = F.pandas_udf(textkit.extract_links_s, ArrayType(StringType()))
extract_title_udf = F.pandas_udf(textkit.extract_title_s, StringType())


# Validation columns appended by the fetch/validate stage (X4/X5).
VALIDATION_FIELDS = [
    StructField("psnr_db", DoubleType()),
    StructField("pixels_ok", BooleanType()),
    StructField("phash_calc", LongType()),
    StructField("phash_ok", BooleanType()),
    StructField("bytes_len", IntegerType()),
]


def validate_images(it: Iterator[pd.DataFrame], schema_cols: list[str]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: decode bytes per fmt, compare to independently
    recomputed reference pixels (imaging.pixels_from_id), PSNR + allclose
    + phash recomputation.

    Input batches carry image_id, bytes, w, h, fmt, and ``phash_str``
    (the store phash pre-cast to string — int64 MUST NOT travel through a
    nullable pandas column, which coerces to float64 and silently rounds
    large values).  Nullable outputs are emitted as exact object columns
    (Python ints / None) for the same reason; ``phash`` and ``w``/``h``
    are re-emitted exactly from the parsed inputs."""
    for pdf in it:
        n = len(pdf)
        fetched = pdf["image_id"].notna().to_numpy()
        ids = pdf["image_id"].to_numpy(dtype=object)
        raw = pdf["bytes"].to_numpy(dtype=object)
        ws = pdf["w"].to_numpy(dtype=object)
        hs = pdf["h"].to_numpy(dtype=object)
        fmts = pdf["fmt"].to_numpy(dtype=object)
        ph_str = pdf["phash_str"].to_numpy(dtype=object)
        psnr_db: list = [None] * n
        pixels_ok: list = [None] * n
        phash_calc: list = [None] * n
        phash_ok: list = [None] * n
        bytes_len: list = [None] * n
        w_out: list = [None] * n
        h_out: list = [None] * n
        ph_out: list = [None] * n
        for i in range(n):
            if not fetched[i]:
                continue
            w, h, fmt = int(ws[i]), int(hs[i]), fmts[i]
            w_out[i], h_out[i] = w, h
            store_ph = int(ph_str[i]) if ph_str[i] is not None else None
            ph_out[i] = store_ph
            bytes_len[i] = len(raw[i])
            pixels_ok[i] = False
            phash_ok[i] = False
            try:
                dec = imaging.decode_image(raw[i], w, h, fmt)
            except ValueError:
                continue
            ref = imaging.pixels_from_id(ids[i], w, h)
            if fmt == "raw":
                pixels_ok[i] = bool(np.array_equal(ref, dec))
                psnr_db[i] = float("inf") if pixels_ok[i] else imaging.psnr(ref, dec)
            else:
                p = imaging.psnr(ref, dec)
                psnr_db[i] = p
                pixels_ok[i] = p >= imaging.PSNR_LOSSY_MIN_DB
            ph = imaging.phash64(dec)
            phash_calc[i] = ph
            phash_ok[i] = store_ph is not None and store_ph == ph
        out = pdf.copy()
        out["w"] = pd.Series(w_out, dtype="object", index=pdf.index)
        out["h"] = pd.Series(h_out, dtype="object", index=pdf.index)
        out["phash"] = pd.Series(ph_out, dtype="object", index=pdf.index)
        out["psnr_db"] = pd.Series(psnr_db, dtype="object", index=pdf.index)
        out["pixels_ok"] = pd.Series(pixels_ok, dtype="object", index=pdf.index)
        out["phash_calc"] = pd.Series(phash_calc, dtype="object", index=pdf.index)
        out["phash_ok"] = pd.Series(phash_ok, dtype="object", index=pdf.index)
        out["bytes_len"] = pd.Series(bytes_len, dtype="object", index=pdf.index)
        yield out[schema_cols]


def with_validation_schema(base: StructType) -> StructType:
    return StructType(list(base.fields) + VALIDATION_FIELDS)

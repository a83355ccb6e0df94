"""pandas_udf wrappers over the pure kernels — the only Python that runs on
executors, always Arrow-batched (north rule: no per-row Python).

Keep this module import-light: it is shipped to executors via --py-files.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from . import core, text, vecsim


@F.pandas_udf(StringType())
def udf_get_root(s: pd.Series) -> pd.Series:
    return core.get_root(s)


@F.pandas_udf(IntegerType())
def udf_get_depth(s: pd.Series) -> pd.Series:
    return core.get_depth(s).astype("int32")


@F.pandas_udf(ArrayType(StringType()))
def udf_extract_hosts(texts: pd.Series) -> pd.Series:
    return core.extract_hosts(texts)


_PAGE_FEATURES_TYPE = StructType([
    StructField("cands", ArrayType(StringType())),
    StructField("title", StringType()),
])


@F.pandas_udf(_PAGE_FEATURES_TYPE)
def udf_page_features(texts: pd.Series, roots: pd.Series) -> pd.DataFrame:
    """X1+F2+X3 in ONE Arrow pass: in-scope candidate hosts + page title
    (worker.go:108-113 does exactly these three on each fetched body)."""
    extracted = core.extract_hosts(texts)
    cands = [
        [c for c in cs if c == root or c.endswith("." + root)]
        for cs, root in zip(extracted.to_numpy(), roots.to_numpy())
    ]
    return pd.DataFrame({"cands": cands, "title": core.extract_title(texts)})


# --- text-analysis / sketch UDFs (training-data ops) -----------------------
# NOTE: token_count / quality_score / lang_id have NO udf wrappers on purpose:
# their production paths are pure-JVM expressions (plans/driver_queries.py);
# the pandas kernels in functions/text.py exist as reference twins for tests.


@F.pandas_udf(LongType())
def udf_fingerprint64(texts: pd.Series) -> pd.Series:
    return text.fingerprint64(texts)


@F.pandas_udf(ArrayType(LongType()))
def udf_minhash64(texts: pd.Series) -> pd.Series:
    return text.minhash_signatures(texts)


@F.pandas_udf(LongType())
def udf_simhash64(texts: pd.Series) -> pd.Series:
    return text.simhash64_batch(texts)


@F.pandas_udf(DoubleType())
def udf_pair_cos4(ea: pd.Series, eb: pd.Series) -> pd.Series:
    """Arrow-batched pair cosine over two equal-length array<float>
    columns — bit-equal to the literal zip_with/aggregate `_cos4` tree
    (see functions/vecsim.py for the numeric contract).  Lives HERE, not
    in plans/driver_queries.py, so workers unpickling it import only the
    light udfs/vecsim chain they already hold."""
    import numpy as np

    if not len(ea):
        return pd.Series([], dtype="float64")
    M = np.asarray(ea.tolist(), dtype=np.float32)
    N = np.asarray(eb.tolist(), dtype=np.float32)
    return pd.Series(vecsim.pair_cos4_np(M, N), index=ea.index)


@F.pandas_udf(ArrayType(StringType()))
def udf_extract_hosts_html(htmls: pd.Series) -> pd.Series:
    """X2 — HTML-aware extraction (domain_service.go:156-195)."""
    return htmls.fillna("").map(core.extract_hosts_html_one)


# --- image UDFs (north-rule payload path) -----------------------------------

_IMG_PIPE_TYPE = StructType([
    StructField("fmt", StringType()),
    StructField("phash", LongType()),
    StructField("pixels_ok", BooleanType()),
])


@F.pandas_udf(_IMG_PIPE_TYPE)
def udf_img_pipeline(doc_ids: pd.Series) -> pd.DataFrame:
    """Full multimodal plumbing in one Arrow batch: synthesize a
    deterministic 16×16 gradient image per row (orientation = doc_id % 4),
    encode with a real codec (raw for even ids, lossy-BMP for odd), decode,
    validate the roundtrip (exact / PSNR≥40 per input_hint), and compute the
    average-hash. The gradients use 16-step values, so the expected phash
    per orientation has a closed form (half-plane bit patterns) checkable
    by the DuckDB oracle, and 6-bit quantization cannot flip any bit."""
    import numpy as np

    from . import image

    g = np.arange(16, dtype=np.uint8) * 16
    grays = [np.repeat(g, 16).reshape(16, 16),
             np.repeat(g[::-1], 16).reshape(16, 16),
             np.tile(g, 16).reshape(16, 16),
             np.tile(g[::-1], 16).reshape(16, 16)]
    fmts, phs, oks = [], [], []
    for did in doc_ids.to_numpy():
        did = int(did)
        img = np.stack([grays[did % 4]] * 3, axis=2)
        fmt = "raw" if did % 2 == 0 else "lossy"
        dec = image.decode_image(image.encode_image(img, fmt), fmt)
        ok = (bool(np.array_equal(dec, img)) if fmt == "raw"
              else image.psnr(dec, img) >= 40.0)
        fmts.append(fmt)
        phs.append(image.average_hash(dec))
        oks.append(ok)
    return pd.DataFrame({"fmt": fmts, "phash": phs, "pixels_ok": oks})


# (udf_phash / udf_psnr_vs removed in round 4: they were referenced nowhere —
# the validate path computes pixels/PSNR inside operators/validate.py's own
# Arrow UDF, and phash rides inside udf_img_pipeline above.)

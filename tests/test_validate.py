"""M5 payload validation on Spark: PSNR + caption checks per image row."""

from __future__ import annotations

import numpy as np
import pandas as pd

from subdomain_crawler_spark.functions import image
from subdomain_crawler_spark.operators.validate import validate_payloads


def _payload_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def test_validate_payloads(spark):
    rng = np.random.RandomState(5)
    img_a = rng.randint(0, 256, (24, 31, 3), dtype=np.uint8)
    img_b = rng.randint(0, 256, (24, 31, 3), dtype=np.uint8)
    ref = [
        dict(image_id="a", bytes=image.encode_image(img_a, "bmp"), fmt="bmp",
             caption="cap-a"),
        dict(image_id="b", bytes=image.encode_image(img_b, "raw"), fmt="raw",
             caption="cap-b"),
        dict(image_id="c", bytes=image.encode_image(img_a, "bmp"), fmt="bmp",
             caption="cap-c"),
    ]
    got = [
        # lossy re-encode of a: PSNR ≥ 40, caption matches → ok
        dict(image_id="a", bytes=image.encode_image(img_a, "lossy"),
             fmt="lossy", caption="cap-a"),
        # wrong pixels for b → fail
        dict(image_id="b", bytes=image.encode_image(img_a, "raw"), fmt="raw",
             caption="cap-b"),
        # exact pixels but caption drift → caption_ok False
        dict(image_id="c", bytes=image.encode_image(img_a, "bmp"), fmt="bmp",
             caption="CAP-C"),
    ]
    out = {r["image_id"]: r.asDict() for r in
           validate_payloads(_payload_df(spark, got),
                             _payload_df(spark, ref)).collect()}
    assert out["a"]["pixels_ok"] and out["a"]["caption_ok"]
    assert 40.0 <= out["a"]["psnr_db"] < 60.0
    assert not out["b"]["pixels_ok"]
    assert out["c"]["pixels_ok"] and out["c"]["psnr_db"] == 1e9
    assert not out["c"]["caption_ok"] and not out["c"]["payload_ok"]


def test_validate_fixture_corpus_self(spark, fixture_web):
    """The fixture corpus validates against itself (exact for raw/bmp,
    ≥40 dB for lossy rows)."""
    base = fixture_web["base"]
    corpus = spark.read.parquet(f"{base}/corpus.parquet") \
        .select("image_id", "bytes", "fmt", "caption")
    out = validate_payloads(corpus, corpus)
    n = out.count()
    ok = out.filter("payload_ok").count()
    assert n == ok > 0

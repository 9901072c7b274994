"""Image binary-column ops + streaming dress."""

import pytest

from fetcho_spark import fixtures as fx
from fetcho_spark.operators import multimodal as MM


def _images(spark, n=12):
    return spark.createDataFrame(fx.gen_images(n), fx.IMAGES_SCHEMA)


@pytest.mark.spark
def test_image_features(spark):
    from fetcho_spark.functions.pure_codec import PureCodec
    # one real PNG beside the stand-in rows: the decoder follows the bytes
    real = list(fx.gen_images(1, encode=PureCodec.encode)[0])
    assert bytes(real[1][:4]) == b"\x89PNG"
    real[0] = "real-png"
    imgs = _images(spark).unionByName(
        spark.createDataFrame([tuple(real)], fx.IMAGES_SCHEMA))
    feats = MM.image_features(imgs).collect()
    assert len(feats) == 13
    by = {r["image_id"]: r for r in feats}
    assert by["real-png"]["fmt"] == "png"
    # features line up with the stored metadata + stored phash
    stored = {r["image_id"]: r for r in imgs.collect()}
    for iid, r in by.items():
        assert (r["w"], r["h"], r["fmt"]) == \
            (stored[iid]["w"], stored[iid]["h"], stored[iid]["fmt"])
        assert r["phash"] == stored[iid]["phash"]
        assert 0.0 <= r["brightness"] <= 255.0


@pytest.mark.spark
def test_image_resize(spark):
    bad = spark.createDataFrame([("bad", bytearray(b"nope"))],
                                "image_id string, bytes binary")
    imgs = _images(spark).select("image_id", "bytes").unionByName(bad)
    out = MM.image_resize(imgs, size=16).collect()
    assert len(out) == 13
    from fetcho_spark.functions.codec import decode
    for r in out:
        if r["image_id"] == "bad":
            assert r["bytes"] is None and r["w"] is None
            continue
        px, fmt = decode(bytes(r["bytes"]))
        assert px.shape == (16, 16, 3)


@pytest.mark.spark
def test_windowed_event_counts_batch_semantics(spark):
    import datetime as dt
    from fetcho_spark.streaming.loop import windowed_event_counts
    t0 = dt.datetime(2026, 1, 1)
    rows = [(t0 + dt.timedelta(minutes=m), "click") for m in (1, 5, 11, 25)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {(r["window_start"].minute, r["event_type"]): r["n"]
           for r in windowed_event_counts(df, "10 minutes").collect()}
    assert out[(0, "click")] == 2
    assert out[(10, "click")] == 1
    assert out[(20, "click")] == 1


@pytest.mark.spark
@pytest.mark.slow
def test_stream_crawl_availablenow(spark, tmp_path):
    """The foreachBatch dress: frontier files streamed in → rounds run."""
    from fetcho_spark.catalog import Catalog
    from fetcho_spark.crawl import CrawlConfig, CrawlEngine, FRONTIER_SCHEMA
    from fetcho_spark.streaming.loop import stream_crawl

    cat = Catalog(spark, str(tmp_path / "cat"))
    cfg = CrawlConfig(max_chunk=20, n_seen_buckets=4, bits_per_bucket=1 << 12)
    eng = CrawlEngine(spark, cat, cfg)
    wg = fx.gen_webgraph(30, 6, 10)
    eng.init([], fx.webgraph_df(spark, 30, 6, 10), _images(spark, 10),
             fx.robots_df(spark, 6), fx.hosts_df(spark, 6))
    seeds = fx.gen_seeds(wg, 4)
    fdir = str(tmp_path / "stream-in")
    spark.createDataFrame(
        [(u, None, 0) for u in seeds],
        FRONTIER_SCHEMA).write.parquet(fdir)
    q = stream_crawl(eng, fdir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert eng.last_completed_round() is not None
    assert cat.read("fetched").count() > 0

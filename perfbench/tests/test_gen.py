import numpy as np
import pandas as pd
import pytest

from perfbench import gen
from tile_gen_spark.sources.synth import _page_batch


@pytest.mark.parametrize("seed", [42, 7])
def test_city_share_pages_are_synth_pages(seed):
    # ids straddle 1000, where the recrawl duplicates start
    ids = np.arange(950, 1250, dtype=np.int64)
    pd.testing.assert_frame_equal(gen.page_batch(ids, seed, hot_share=0.7),
                                  _page_batch(ids, seed))


def test_uniform_pages_only_move_geometry():
    ids = np.arange(0, 200, dtype=np.int64)
    city, uni = gen.page_batch(ids, 3, 0.7), gen.page_batch(ids, 3, 0.0)
    for col in ("url", "warc_ts", "lang"):
        pd.testing.assert_series_equal(city[col], uni[col])
    strip = lambda t: [l for l in t.split("\n") if not l.startswith("@@geo")]
    assert [strip(t) for t in city["text"]] == [strip(t) for t in uni["text"]]
    assert not city["text"].equals(uni["text"])


@pytest.mark.parametrize("kind,n", [("pages", 40), ("zones", 30), ("points", 1000)])
def test_generators_ignore_chunking(kind, n):
    whole = gen.generate(kind, n, 11, chunk=n)
    for chunk in (1, 7, 64):
        pd.testing.assert_frame_equal(gen.generate(kind, n, 11, chunk=chunk), whole)
    assert not whole.equals(gen.generate(kind, n, 12, chunk=n))


def test_cache_is_keyed_and_reused(tmp_path):
    path = gen.cached(str(tmp_path), "pages", 30, 5, hot_share=0.0)
    stamp = (tmp_path / path.split("/")[-1]).stat().st_mtime_ns
    assert gen.cached(str(tmp_path), "pages", 30, 5, hot_share=0.0) == path
    assert (tmp_path / path.split("/")[-1]).stat().st_mtime_ns == stamp
    assert gen.cached(str(tmp_path), "pages", 30, 6, hot_share=0.0) != path
    back = pd.read_parquet(path)
    want = gen.generate("pages", 30, 5, hot_share=0.0)
    assert back["warc_ts"].dt.tz is not None
    assert (back["warc_ts"].dt.tz_localize(None).astype("datetime64[s]")
            == want["warc_ts"]).all()
    assert back["text"].tolist() == want["text"].tolist()

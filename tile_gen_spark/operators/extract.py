"""P5 + G15 (SURVEY.md §2.2, §2.8): vectorized text extraction & geo parsing.

P5: ``html:binary → text:string`` with the byte-identity contract — the
extractor output must equal the corpus ``text`` column byte-for-byte per url
(``BASELINE.json:15``). Implemented as a scalar Arrow ``pandas_udf`` using
pandas vectorized ``.str`` ops only; no per-row Python UDF calls.

G15: parse inline geo spans (``@@geo point|line|poly lon lat[; ...][| ring]@@``,
FIXTURES.md §1 — ``|`` separates polygon rings: ring 0 exterior, rings 1+
holes) out of extracted text into the ``features`` table (SURVEY.md §1.3) via
``mapInPandas`` — one output row per span, geometry as
``array<array<double>>`` flat rings.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType
from pyspark.sql.functions import pandas_udf

from ..plans.session import broadcast_if_small

FEATURES_SCHEMA = ("url string, feature_id bigint, kind string, "
                   "coords array<array<double>>, props map<string,string>")

#: r7: extract_and_parse (the fused hot path) additionally emits the
#: per-feature coordinate bbox over ALL rings, computed while the rings are
#: still Python lists (~µs/feature). Downstream the shape-clip zoom split
#: needs exactly this bbox, and computing it relationally cost 4 interpreted
#: higher-order walks of `coords` per feature (flatten+transform+filter per
#: alias, no CSE across CodegenFallback exprs — measured 91 CPU-s / 208
#: µs-per-feature at the bench shape, the single hottest JVM stage of the
#: clip). parse_geo_features keeps the lean FEATURES_SCHEMA; consumers fall
#: back to the relational walk when the columns are absent.
FEATURES_BBOX_SCHEMA = (FEATURES_SCHEMA + ", _minlon double, _maxlon double, "
                        "_minlat double, _maxlat double")

_TITLE_RE = r"<title>(.*?)</title>"
_PARA_RE = r"<p>(.*?)</p>"
_GEO_RE = re.compile(r"@@geo (point|line|poly) ([^@]*)@@")


@pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Inverse of the corpus html template: title + paragraphs, newline-joined.

    Pure pandas .str pipeline (Arrow-vectorized); byte-identical per url by
    construction against sources/synth.py's template (``BASELINE.json:15``).
    """
    s = html.map(lambda b: b.decode("utf-8") if b is not None else None)
    s = pd.Series(s, dtype="string")
    title = s.str.extract(_TITLE_RE, expand=False)
    paras = s.str.findall(_PARA_RE).map(lambda ls: "\n".join(ls) if isinstance(ls, list) else "")
    out = title.fillna("") + np.where(paras.str.len() > 0, "\n" + paras, "")
    return out.astype(object).where(s.notna(), None)


def _fid(url: str, idx: int) -> int:
    """Deterministic positive 60-bit feature id from (url, span index)."""
    import hashlib
    h = hashlib.md5(("%s#%d" % (url, idx)).encode()).hexdigest()
    return int(h[:15], 16)


def parse_geo_features(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """G15: explode geo spans of each page into feature rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            urls, fids, kinds, coords, props = [], [], [], [], []
            for url, text in zip(b["url"], b[text_col]):
                if text is None:
                    continue
                for idx, m in enumerate(_GEO_RE.finditer(text)):
                    parsed = _parse_span(m)
                    if parsed is None:
                        continue
                    kind, rings = parsed
                    urls.append(url)
                    fids.append(_fid(url, idx))
                    kinds.append(kind)
                    coords.append(rings)
                    props.append({"src": "geo-span", "i": str(idx)})
            yield pd.DataFrame({
                "url": pd.Series(urls, dtype="string"),
                "feature_id": pd.Series(fids, dtype="int64"),
                "kind": pd.Series(kinds, dtype="string"),
                "coords": pd.Series(coords, dtype=object),
                "props": pd.Series(props, dtype=object),
            })

    return pages.select("url", text_col).mapInPandas(fn, FEATURES_SCHEMA)


def extract_and_parse(pages: DataFrame) -> DataFrame:
    """Fused P5+G15: html → text → feature rows in ONE Arrow crossing.

    The hot-path version of extract_text + parse_geo_features: halves the
    Python stage count (worker spin-ups, Arrow hops) and never materializes
    the intermediate text column through the JVM. The standalone extract_text
    UDF remains the byte-identity artifact (same _TITLE_RE/_PARA_RE logic).

    r7: also emits the per-feature all-rings coordinate bbox
    (FEATURES_BBOX_SCHEMA) — built-in min/max over the ring lists while
    they're in hand, replacing 4 interpreted JVM array walks per feature in
    the shape clip (91 CPU-s at the bench shape). Values are exact float64
    selections, identical to the relational array_min/array_max they replace
    on NaN-free coords (the pipeline applies validity_filter upstream)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            s = b["html"].map(lambda x: x.decode("utf-8") if x is not None else None)
            s = pd.Series(s, dtype="string")
            title = s.str.extract(_TITLE_RE, expand=False)
            paras = s.str.findall(_PARA_RE).map(
                lambda ls: "\n".join(ls) if isinstance(ls, list) else "")
            text = title.fillna("") + np.where(paras.str.len() > 0, "\n" + paras, "")
            urls, fids, kinds, coords, props = [], [], [], [], []
            mnx, mxx, mny, mxy = [], [], [], []
            for url, t in zip(b["url"], text):
                if t is None or t != t:
                    continue
                for idx, m in enumerate(_GEO_RE.finditer(t)):
                    parsed = _parse_span(m)
                    if parsed is None:
                        continue
                    kind, rings = parsed
                    urls.append(url)
                    fids.append(_fid(url, idx))
                    kinds.append(kind)
                    coords.append(rings)
                    props.append({"src": "geo-span", "i": str(idx)})
                    mnx.append(min(min(r[0::2]) for r in rings))
                    mxx.append(max(max(r[0::2]) for r in rings))
                    mny.append(min(min(r[1::2]) for r in rings))
                    mxy.append(max(max(r[1::2]) for r in rings))
            yield pd.DataFrame({
                "url": pd.Series(urls, dtype="string"),
                "feature_id": pd.Series(fids, dtype="int64"),
                "kind": pd.Series(kinds, dtype="string"),
                "coords": pd.Series(coords, dtype=object),
                "props": pd.Series(props, dtype=object),
                "_minlon": pd.Series(mnx, dtype="float64"),
                "_maxlon": pd.Series(mxx, dtype="float64"),
                "_minlat": pd.Series(mny, dtype="float64"),
                "_maxlat": pd.Series(mxy, dtype="float64"),
            })

    return pages.select("url", "html").mapInPandas(fn, FEATURES_BBOX_SCHEMA)


def _parse_span(m) -> tuple[str, list[list[float]]] | None:
    """Span body → rings. ``|`` separates polygon rings (FIXTURES.md §1):
    ring 0 is the exterior, rings 1+ are holes (donut polygons)."""
    kind = m.group(1)
    rings: list[list[float]] = []
    for ring_txt in m.group(2).split("|"):
        pts: list[float] = []
        for pair in ring_txt.split(";"):
            parts = pair.split()
            if len(parts) != 2:
                return None
            try:
                pts.extend((float(parts[0]), float(parts[1])))
            except ValueError:
                return None
        if not pts:
            return None
        rings.append(pts)
    if kind != "poly" and len(rings) != 1:
        return None
    if kind == "point" and len(rings[0]) != 2:
        return None
    if kind == "line" and len(rings[0]) < 4:
        return None
    if kind == "poly" and any(len(r) < 6 for r in rings):
        return None
    return ("polygon" if kind == "poly" else kind), rings


def latest_per_url(pages: DataFrame) -> DataFrame:
    """J5: latest-snapshot dedup — one row per url, max (warc_ts, html-hash).

    r7 (guide §8 "decide with small rows, move big rows once" / §2.4):
    default mode decides the winner per url on SMALL columns only —
    ``groupBy(url).agg(max(struct(warc_ts, xxhash64(html))))`` partial-
    aggregates map-side, so the only exchange carries one ~50-byte row per
    url — and attaches the decision with an equi-join back on
    (url, warc_ts, xxhash64(html)). The per-url decision table has one row
    per url, so it is broadcast only while under BROADCAST_MAX_BYTES
    (plans.session.broadcast_if_small); above that Catalyst/AQE pick the
    join (a shuffle join on the keys, which moves the pages once). While it
    broadcasts, the page payloads (html/text) never enter ANY exchange and
    are never sorted; the old window shuffled + sorted the full corpus by
    url just to drop the ~5% superseded snapshots.

    Tie-break matches the window exactly (desc warc_ts, desc xxhash64(html)).
    Caveat: rows that tie on ALL of (url, warc_ts, xxhash64(html)) — i.e.
    byte-identical re-deliveries of the same snapshot — would each survive
    the join where the window kept one arbitrarily; corpora that can contain
    such exact dup snapshots should set TILEGEN_LATEST_MODE=window (the
    pre-r7 row_number path, kept verbatim below). Both the exact-duplicate
    fault and TILEGEN_LATEST_MODE are still open (ROADMAP direction 5).
    Parity on the synthetic corpus (which pins unique (url, warc_ts)) is
    asserted by pytest, on the broadcast and the shuffle join.
    """
    import os
    if os.environ.get("TILEGEN_LATEST_MODE", "bjoin") == "window":
        # pre-r7 reference path: window over the full payload. Left on
        # AQE-managed partitioning deliberately: an explicit
        # repartition(n, url) before the window was measured 15× SLOWER at
        # local[32] (19.6 s vs 1.3 s — GC-bound small-partition sort +
        # per-task Python worker round-trips downstream).
        from pyspark.sql.window import Window

        w = Window.partitionBy("url").orderBy(
            F.desc("warc_ts"), F.desc(F.xxhash64("html")))
        return (pages.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).drop("_rn"))
    cols = pages.columns
    win = (pages
           .groupBy("url")
           .agg(F.max(F.struct(F.col("warc_ts"),
                               F.xxhash64("html").alias("_h"))).alias("_w"))
           .select("url", F.col("_w.warc_ts").alias("warc_ts"),
                   F.col("_w._h").alias("_h")))
    return (pages.withColumn("_h", F.xxhash64("html"))
            .join(broadcast_if_small(win), ["url", "warc_ts", "_h"])
            .select(*cols))


def validity_filter(features: DataFrame) -> DataFrame:
    """P4: drop NaN / out-of-range coords and degenerate geometries (checked
    over ALL rings — holes included)."""
    flat = F.flatten(F.col("coords"))
    xs = F.filter(F.transform(flat, lambda v, i: F.when(i % 2 == 0, v)), lambda v: v.isNotNull())
    ys = F.filter(F.transform(flat, lambda v, i: F.when(i % 2 == 1, v)), lambda v: v.isNotNull())
    in_range = (
        (F.array_max(xs) <= 180.0) & (F.array_min(xs) >= -180.0)
        & (F.array_max(ys) <= 90.0) & (F.array_min(ys) >= -90.0)
        & ~F.exists(flat, lambda v: F.isnan(v) | v.isNull())
    )
    min_len = (F.when(F.col("kind") == "point", 2)
               .when(F.col("kind") == "line", 4)
               .otherwise(6))
    ok_len = F.forall(F.col("coords"), lambda r: F.size(r) >= min_len)
    return features.filter(in_range & ok_len)

"""Classification (lucene/classification) + spatial (LatLonPoint) checks
against independent pure-Python references built from the same sf0.001
parquet. The DuckDB twins are the driver-gate check; these pin the
semantics without SQL in either loop.

References: KNearestNeighborClassifier.java:120-231,
SimpleNaiveBayesClassifier.java:135-305, LatLonPoint.java:49-241,
SloppyMath.java:50-95,203.
"""

import math
import re
from collections import Counter

import pandas as pd
import pytest

from lucene_solr_1_spark.kernels.analyzer import SQL_TOKEN_PATTERN
from lucene_solr_1_spark.sql import classify as C
from lucene_solr_1_spark.sql import geo as G
from lucene_solr_1_spark.sql.relational import B, K1

SF = "/root/testdata/sf0.001"
TEXT = "query merge spark sort data window"


@pytest.fixture(scope="module")
def docs_pdf():
    return pd.read_parquet(f"{SF}/documents.parquet")


def _toks(text):
    return re.findall(SQL_TOKEN_PATTERN, text.lower())


# ---------------------------------------------------------------------------
# kNN classifier
# ---------------------------------------------------------------------------

def _knn_reference(docs, text, k=10, min_df=2):
    """Independent loop-based kNN: MLT boosted-OR BM25 retrieval, then
    the reference's score/maxScore class vote with the sumdoc < k
    correction."""
    tf_q = Counter(_toks(text))
    per_doc = [Counter(_toks(t)) for t in docs["text"]]
    dls = [sum(c.values()) for c in per_doc]
    n, avgdl = len(per_doc), sum(dls) / len(per_doc)
    df = Counter()
    for t in tf_q:
        df[t] = sum(1 for c in per_doc if t in c)
    scores = {}
    for i, c in enumerate(per_doc):
        s = 0.0
        for t, boost in tf_q.items():
            if df[t] < min_df or t not in c:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += boost * idf * c[t] / (c[t] + K1 * ((1 - B) + B * dls[i] / avgdl))
        if s > 0:
            scores[int(docs["doc_id"].iloc[i])] = s
    hits = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:k]
    hits = [(d, round(s, 4)) for d, s in hits]
    lang_of = dict(zip(docs["doc_id"].astype(int), docs["lang"]))
    mx = max(s for _, s in hits)
    sumdoc = len(hits)
    votes, bsum = Counter(), Counter()
    for d, s in hits:
        votes[lang_of[d]] += 1
        bsum[lang_of[d]] += s / mx
    out = []
    for lang in votes:
        raw = bsum[lang] / k
        if sumdoc < k:
            raw *= k / sumdoc
        out.append((lang, round(raw, 4), votes[lang]))
    out.sort(key=lambda r: (-round(r[1], 4), r[0]))
    return out


def test_knn_matches_reference(spark, docs_pdf):
    got = C.knn_classify_spark(spark, SF, TEXT, k=10, min_df=2).toPandas()
    ref = _knn_reference(docs_pdf, TEXT, k=10, min_df=2)
    assert list(zip(got["label"], got["votes"])) == [(l, v) for l, _, v in ref]
    for g, (_, s, _) in zip(got["score"], ref):
        assert abs(g - s) < 1e-3
    # votes over all classes account for every retrieved hit
    assert got["votes"].sum() == sum(v for _, _, v in ref) <= 10


def test_knn_min_df_drops_rare_terms(spark, docs_pdf):
    """A nonsense term (df=0 < min_df) must not change the outcome."""
    a = C.knn_classify_spark(spark, SF, TEXT, k=5).toPandas()
    b = C.knn_classify_spark(spark, SF, TEXT + " zzznothere", k=5).toPandas()
    pd.testing.assert_frame_equal(a, b)


# ---------------------------------------------------------------------------
# naive Bayes classifier
# ---------------------------------------------------------------------------

def _nb_reference(docs, text):
    """Independent add-1-smoothed NB with log-sum-exp normalization."""
    tf_q = Counter(_toks(text))
    pairs = []  # (lang, term) per DISTINCT (doc, term)
    for lang, t in zip(docs["lang"], docs["text"]):
        for term in set(_toks(t)):
            pairs.append((lang, term))
    n = len(docs)
    sum_doc_freq = len(pairs)
    df_c = Counter(docs["lang"])
    hit = Counter(pairs)
    clval = {}
    for lang in df_c:
        v = math.log(df_c[lang]) - math.log(n)
        for term, mult in tf_q.items():
            num = hit[(lang, term)] + 1.0
            den = (sum_doc_freq / n) * df_c[lang] + n
            v += mult * math.log(num / den)
        clval[lang] = v
    mx = max(clval.values())
    lse = mx + math.log(sum(math.exp(v - mx) for v in clval.values()))
    return {lang: math.exp(v - lse) for lang, v in clval.items()}


def test_naive_bayes_matches_reference(spark, docs_pdf):
    got = C.naive_bayes_classify_spark(spark, SF, TEXT).toPandas()
    ref = _nb_reference(docs_pdf, TEXT)
    assert set(got["label"]) == set(ref)
    for lang, score in zip(got["label"], got["score"]):
        assert abs(score - ref[lang]) < 1e-3
    # softmax: probabilities sum to 1
    assert abs(got["score"].sum() - 1.0) < 1e-3
    # ordered by posterior desc
    assert list(got["score"]) == sorted(got["score"], reverse=True)


# ---------------------------------------------------------------------------
# geo
# ---------------------------------------------------------------------------

def _coords(doc_id):
    return (
        ((doc_id * 7919) % 18001) / 100.0 - 90.0,
        ((doc_id * 104729) % 36001) / 100.0 - 180.0,
    )


def _haversine_km(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dphi = math.radians(lat2 - lat1) / 2
    dlmb = math.radians(lon2 - lon1) / 2
    h = math.sin(dphi) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dlmb) ** 2
    return 2 * G.EARTH_RADIUS_M * math.asin(math.sqrt(h)) / 1000.0


def test_geo_bbox_membership(spark, docs_pdf):
    got = G.geo_bbox_spark(spark, SF, 40.0, 55.0, -5.0, 15.0).toPandas()
    ids = set()
    for d in docs_pdf["doc_id"].astype(int):
        lat, lon = _coords(d)
        if 40.0 <= lat <= 55.0 and -5.0 <= lon <= 15.0:
            ids.add(d)
    assert set(got["doc_id"]) == ids
    for d, lat, lon in zip(got["doc_id"], got["lat"], got["lon"]):
        rlat, rlon = _coords(int(d))
        assert abs(lat - rlat) < 1e-9 and abs(lon - rlon) < 1e-9


def test_geo_distance_topk_matches_reference(spark, docs_pdf):
    got = G.geo_distance_topk_spark(spark, SF, 48.85, 2.35, k=10).toPandas()
    ref = sorted(
        (
            (round(_haversine_km(*_coords(int(d)), 48.85, 2.35), 4), int(d))
            for d in docs_pdf["doc_id"]
        )
    )[:10]
    assert list(got["doc_id"]) == [d for _, d in ref]
    for g, (r, _) in zip(got["dist_km"], ref):
        assert abs(g - r) < 1e-3


def test_geo_distance_range_is_filter_of_topk(spark, docs_pdf):
    """Every in-radius doc appears, none outside, distances agree."""
    radius = 2500.0
    got = G.geo_distance_range_spark(spark, SF, 48.85, 2.35, radius).toPandas()
    ref = {
        int(d): round(_haversine_km(*_coords(int(d)), 48.85, 2.35), 4)
        for d in docs_pdf["doc_id"]
    }
    want = {d: km for d, km in ref.items() if km <= radius}
    assert set(got["doc_id"]) == set(want)
    for d, km in zip(got["doc_id"], got["dist_km"]):
        assert abs(km - want[int(d)]) < 1e-3


def _pip_bruteforce(lat, lon, lats, lons):
    """Independent even-odd ray cast (no shared expression text)."""
    n = len(lats)
    inside = False
    for i in range(n):
        j = (i + 1) % n
        yi, xi, yj, xj = lats[i], lons[i], lats[j], lons[j]
        if (yi > lat) != (yj > lat):
            xcross = (xj - xi) * (lat - yi) / (yj - yi) + xi
            if lon < xcross:
                inside = not inside
    return inside


def test_geo_polygon_membership(spark, docs_pdf):
    lats = (10.37, 55.91, 30.23, -20.57, -45.11)
    lons = (-120.3, -10.2, 79.6, 60.4, -80.7)
    got = G.geo_polygon_spark(spark, SF, lats, lons).toPandas()
    want = {
        int(d)
        for d in docs_pdf["doc_id"]
        if _pip_bruteforce(*_coords(int(d)), lats, lons)
    }
    assert set(got["doc_id"]) == want
    assert want  # the pentagon must actually contain points
    assert want != set(docs_pdf["doc_id"].astype(int))  # ...but not all
    # sorted by doc_id, coordinates round-trip
    assert list(got["doc_id"]) == sorted(got["doc_id"])


def test_geo_polygon_concave(spark, docs_pdf):
    """A concave (arrow-head) polygon: the notch must exclude points a
    convex hull would keep — exercises even-odd parity > 1 crossing."""
    lats = (-40.13, 60.17, -40.13, 5.23)
    lons = (-150.7, 0.1, 150.9, 0.1)  # notch points back up at (5.2, 0.1)
    got = G.geo_polygon_spark(spark, SF, lats, lons).toPandas()
    want = {
        int(d)
        for d in docs_pdf["doc_id"]
        if _pip_bruteforce(*_coords(int(d)), lats, lons)
    }
    assert set(got["doc_id"]) == want and want
    # at least one bbox point is outside the concave shape
    in_box = {
        int(d) for d in docs_pdf["doc_id"]
        if -40.13 <= _coords(int(d))[0] <= 60.17
        and -150.7 <= _coords(int(d))[1] <= 150.9
    }
    assert in_box - want


def test_geo_polygon_sql_has_exponent_float_literals():
    """Every vertex literal is written in exponent form (DOUBLE in Spark
    and DuckDB alike), none as a bare decimal (lexed as DECIMAL)."""
    sql = G._polygon_inside_sql((10.37, 55.91, 30.23, -20.57, -45.11),
                                (-120.3, -10.2, 79.6, 60.4, -80.7))
    floats = re.findall(r"\d+\.\d+(?:e[+-]?\d+)?", sql)
    assert floats and all("e" in f for f in floats), floats
    assert "-1.20299999999999997e+02" in sql  # round-trips the double


def test_geo_polygon_rejects_degenerate():
    with pytest.raises(ValueError, match=">= 3"):
        G.geo_polygon_duck((1.0, 2.0), (3.0, 4.0))
    with pytest.raises(ValueError, match="horizontal"):
        G.geo_polygon_duck((10.0, 10.0, 20.0), (0.0, 5.0, 2.0))


def test_geo_polygon_plan_shape(spark):
    """One parquet scan, bbox + ray-cast fused into a single Filter
    (pure expressions — codegen-able), no join, and the only exchange
    is the final doc_id sort."""
    lats = (10.37, 55.91, 30.23, -20.57, -45.11)
    lons = (-120.3, -10.2, 79.6, 60.4, -80.7)
    plan = G.geo_polygon_spark(
        spark, SF, lats, lons
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "CASE WHEN" in plan  # ray-cast chain inlined in the Filter
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1  # only the final sort

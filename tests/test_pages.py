"""Pages fixture + one-scan suite pipeline tests.

Pins the north-rule input contract (BASELINE.json input_hint): schema
(url, warc_ts, html, text, lang), per-url byte-identical extracted text
(golden sha256), determinism under any partitioning, host skew, planted
duplicates — and the merge-tree guarantees of operators/pipeline.py.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np
import pandas as pd
import pytest

from bloomfilter_spark.functions.text import extract_text, extract_text_series
from bloomfilter_spark.sources.pages import (
    _zipf_cdf,
    generate_batch,
    pages_df,
)

N = 500
N_HOSTS = max(16, N // 100)


@pytest.fixture(scope="module")
def batch() -> pd.DataFrame:
    return generate_batch(np.arange(N), N_HOSTS, _zipf_cdf(N_HOSTS))


# ---------------------------------------------------------------------------
# local generator contract
# ---------------------------------------------------------------------------


def test_schema_and_uniqueness(batch):
    assert list(batch.columns) == ["url", "warc_ts", "html", "text", "lang"]
    assert batch.url.is_unique
    assert batch.html.map(lambda b: isinstance(b, bytes)).all()


GOLDEN = {
    # (url, lang, sha256(text)[:16], sha256(html)[:16]) — byte-identity
    # invariant per BASELINE.json:15; EXTRACTION_VERSION bump required to change
    0: ("https://site2.example.com/p0", "en", "7aeeffda48afc18d", "4cc1a23604c9cca2"),
    17: ("https://site1.example.com/p17", "en", "5a2c9930e1fc6e05", "866e221700c8a98a"),
    499: ("https://site2.example.com/p499", "en", "1d3c72e4f6a80e4b", "2c5044d10b0733e0"),
}


def test_golden_rows(batch):
    for i, (url, lang, th, hh) in GOLDEN.items():
        r = batch.iloc[i]
        assert r.url == url
        assert r.lang == lang
        assert hashlib.sha256(r.text.encode()).hexdigest()[:16] == th
        assert hashlib.sha256(r.html).hexdigest()[:16] == hh


def test_text_is_extraction_of_html(batch):
    assert (extract_text_series(batch.html) == batch.text).all()


def test_batch_boundary_independence():
    """Row content is f(id) only — independent of batch slicing."""
    cdf = _zipf_cdf(N_HOSTS)
    whole = generate_batch(np.arange(100), N_HOSTS, cdf)
    parts = pd.concat(
        [
            generate_batch(np.arange(0, 37), N_HOSTS, cdf),
            generate_batch(np.arange(37, 61), N_HOSTS, cdf),
            generate_batch(np.arange(61, 100), N_HOSTS, cdf),
        ],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(whole, parts)


def test_host_skew_and_langs(batch):
    hosts = batch.url.str.extract(r"https://([^/]+)/")[0]
    top = hosts.value_counts()
    # Zipf(1.2): the hottest host dominates (skew the salting path needs)
    assert top.iloc[0] / N > 0.15
    assert set(batch.lang) <= {"en", "de", "fr", "es", "zh", "other"}
    # language is keyed on host → host-consistent
    assert (batch.assign(h=hosts).groupby("h").lang.nunique() == 1).all()


def test_planted_duplicates(batch):
    n_exact = N - batch.text.nunique()
    assert 1 <= n_exact <= N * 0.03  # ~1% exact dups


def test_extract_text_behavior():
    html = b"<html><head><title>T</title><style>x{}</style></head>" \
           b"<body><p>hello   <b>world</b></p><script>var x;</script></body></html>"
    assert extract_text(html) == "hello world"
    assert extract_text(b"") == ""
    assert extract_text(b"no tags at all") == "no tags at all"


# ---------------------------------------------------------------------------
# distributed: determinism + one-scan suite
# ---------------------------------------------------------------------------


def test_pages_df_partitioning_invariant(spark):
    a = pages_df(spark, 300, num_partitions=1).toPandas().sort_values("url")
    b = pages_df(spark, 300, num_partitions=7).toPandas().sort_values("url")
    pd.testing.assert_frame_equal(a.reset_index(drop=True), b.reset_index(drop=True))


def test_build_suite_one_scan_accuracy(spark):
    from bloomfilter_spark.operators.pipeline import build_suite

    df = pages_df(spark, 2000, num_partitions=8)
    pdf = df.toPandas()
    suite = build_suite(df, n_expected=2000)

    exact_urls = pdf.url.nunique()
    est = suite["hll_url"].estimate()
    assert abs(est - exact_urls) / exact_urls <= 4 * 1.04 / (2**14) ** 0.5

    hosts = pdf.url.str.extract(r"https://([^/]+)/")[0]
    est_hosts = suite["hll_host"].estimate()
    assert abs(est_hosts - hosts.nunique()) <= max(3, 0.05 * hosts.nunique())

    # CMS over host: hot host estimate within eps*N of exact
    sk = suite["cms_host"]
    hot = hosts.value_counts().index[0]
    exact_hot = int(hosts.value_counts().iloc[0])
    est_hot = int(sk.query(pd.Series([hot]))[0])
    assert exact_hot <= est_hot <= exact_hot + sk.error_bound() + 1

    # Bloom: zero false negatives over all urls
    hits = suite["bloom_url"].contains(pdf.url)
    assert hits.all()

    # KLL/t-digest: median of text length within rank error
    tl = pdf.text.str.len().to_numpy()
    for name in ("kll_textlen", "tdigest_textlen"):
        q50 = suite[name].quantile(0.5)
        rank = (tl <= q50).mean()
        assert abs(rank - 0.5) <= 0.05


def test_build_suite_prehashed(spark):
    """prehash=True (the corpus-scale layout: url/host keyed on JVM
    xxhash64 instead of raw strings) keeps every suite contract:

      * membership: zero false negatives when the probe applies the SAME
        F.xxhash64 JVM-side;
      * cardinality/count estimates within the same bounds (HLL/CMS hash
        internally — a 64-bit injective-in-practice prehash is invisible);
      * numeric + raw-string sketches (KLL/t-digest/DDS/freq_host/
        cms_lang/bloom_texthash) BIT-IDENTICAL to the default suite —
        prehashing url/host must not perturb any other column's stream;
      * deterministic across partitionings.
    """
    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.pipeline import build_suite

    df = pages_df(spark, 2000, num_partitions=8)
    pdf = df.toPandas()
    suite = build_suite(df, n_expected=2000, prehash=True)
    plain = build_suite(df, n_expected=2000)

    # zero FN: probe inserted urls through the identical JVM prehash
    url_h = (
        df.select(F.xxhash64("url").alias("h")).toPandas().h.to_numpy()
    )
    assert suite["bloom_url"].contains(url_h).all()

    # FPP on absent keys still inside the 2x gate (prehash collisions add
    # ~n^2/2^65 — unobservable at this scale)
    absent = np.arange(10_000, dtype=np.int64) + (1 << 40)
    assert suite["bloom_url"].contains(absent).mean() <= 0.02

    # cardinality within HLL bound
    exact_urls = pdf.url.nunique()
    est = suite["hll_url"].estimate()
    assert abs(est - exact_urls) / exact_urls <= 4 * 1.04 / (2**14) ** 0.5

    # hot-host CMS estimate within eps*N when probed via the same prehash
    hosts = pdf.url.str.extract(r"https://([^/]+)/")[0]
    hot = hosts.value_counts().index[0]
    exact_hot = int(hosts.value_counts().iloc[0])
    hot_h = spark.createDataFrame([(hot,)], "host string").select(
        F.xxhash64("host").alias("h")
    ).collect()[0].h
    sk = suite["cms_host"]
    est_hot = int(sk.query(pd.Series([hot_h]))[0])
    assert exact_hot <= est_hot <= exact_hot + sk.error_bound() + 1

    # every sketch NOT keyed on url/host is bit-identical to the default
    for name in (
        "bloom_texthash", "cms_lang", "freq_host",
        "kll_textlen", "tdigest_textlen", "dds_textlen",
    ):
        assert suite[name].to_bytes() == plain[name].to_bytes(), name

    # partitioning invariance (commutative families) on the prehashed path
    s1 = build_suite(pages_df(spark, 1000, num_partitions=1),
                     n_expected=1000, prehash=True)
    s8 = build_suite(pages_df(spark, 1000, num_partitions=8),
                     n_expected=1000, prehash=True)
    for name in ("bloom_url", "hll_url", "hll_host", "cms_host"):
        assert s1[name].to_bytes() == s8[name].to_bytes(), name


def test_suite_merge_determinism(spark):
    """Commutative sketches: bit-identical across partitionings.  All
    sketches: bit-identical across repeated runs of the same partitioning
    (deterministic merge tree)."""
    from bloomfilter_spark.operators.pipeline import build_suite

    df1 = pages_df(spark, 1000, num_partitions=1)
    df8 = pages_df(spark, 1000, num_partitions=8)
    s1 = build_suite(df1, n_expected=1000)
    s8 = build_suite(df8, n_expected=1000)
    s8b = build_suite(df8, n_expected=1000)

    for name in ("bloom_url", "hll_url", "hll_host", "cms_host", "cms_lang"):
        assert s1[name].to_bytes() == s8[name].to_bytes(), name
    for name in s8:
        assert s8[name].to_bytes() == s8b[name].to_bytes(), name


def test_merge_tree_small_fanin(spark):
    """Force multiple tree rounds (fanin=2 over 8 partitions) — result must
    match the single-round merge bit-for-bit for commutative sketches and
    stay deterministic for compaction sketches."""
    from bloomfilter_spark.operators.pipeline import build_multi, with_page_features
    from bloomfilter_spark.operators.build import bloom_factory, kll_factory

    df = with_page_features(pages_df(spark, 1000, num_partitions=8))
    specs = {
        "bloom_url": ("url", bloom_factory(1024, 0.01)),
        "kll_textlen": ("text_len", kll_factory(k=200)),
    }
    deep = build_multi(df, specs, fanin=2)
    flat = build_multi(df, specs, fanin=64)
    assert deep["bloom_url"].to_bytes() == flat["bloom_url"].to_bytes()
    deep2 = build_multi(df, specs, fanin=2)
    assert deep["kll_textlen"].to_bytes() == deep2["kll_textlen"].to_bytes()
    # compaction sketch still accurate through the deep tree
    tl = df.select("text_len").toPandas().text_len.to_numpy()
    q50 = deep["kll_textlen"].quantile(0.5)
    assert abs((tl <= q50).mean() - 0.5) <= 0.05


def test_build_multi_jobs_on_narrow_input(spark):
    """A 1-partition input is fanned out with repartition(n).  The build
    takes n from ensure_parallelism_counted: reading it back from the
    repartition would make AQE run its shuffle-map stage as a job of its
    own, which the fold then runs again."""
    from bloomfilter_spark.operators.build import bloom_factory, kll_factory
    from bloomfilter_spark.operators.pipeline import build_multi, with_page_features

    df = with_page_features(pages_df(spark, 200, num_partitions=1))
    specs = {
        "bloom_url": ("url", bloom_factory(1024, 0.01)),
        "kll_textlen": ("text_len", kll_factory(k=200)),
    }
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "test_build_multi_jobs_on_narrow_input"
    sc.setJobGroup(group, group)
    try:
        suite, rows = build_multi(df, specs, return_rows=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == 200
    # the status store is fed asynchronously: once a later job is visible,
    # so are all the group's jobs
    sc.setJobGroup(group + ":sentinel", "sentinel")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + ":sentinel"):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    # one job for the repartition's shuffle-map stage, one for the fold
    # and the collect of the 8 partials
    assert len(tracker.getJobIdsForGroup(group)) == 2


def test_slice_equals_whole_table_rows(spark):
    """Sharded generation (executor bench): slice [s, s+n) of a logically
    larger table is byte-identical to those rows of the whole table."""
    whole = pages_df(spark, 600, num_partitions=4).toPandas()
    part = pages_df(
        spark, 200, num_partitions=2, start=200, table_rows=600
    ).toPandas()
    sub = whole.iloc[200:400].reset_index(drop=True)
    pd.testing.assert_frame_equal(
        part.sort_values("url").reset_index(drop=True),
        sub.sort_values("url").reset_index(drop=True),
    )


def test_salted_grouped_hll_on_skewed_hosts(spark):
    """The north-star skew scenario on real skewed data: per-host distinct
    URL counts via the salted two-stage grouped build must agree with the
    unsalted path (salting changes the merge tree, never the estimate —
    HLL max-merge is commutative) and with exact counts within bound."""
    from bloomfilter_spark.operators.build import build_grouped, hll_factory
    from bloomfilter_spark.operators.pipeline import with_page_features
    from bloomfilter_spark.sketches import serde

    pages = with_page_features(pages_df(spark, 3000, num_partitions=8))
    plain = build_grouped(pages, "host", "url", hll_factory(12)).toPandas()
    salted = build_grouped(
        pages, "host", "url", hll_factory(12), salts=8
    ).toPandas()

    a = plain.set_index("host").blob.map(bytes)
    b = salted.set_index("host").blob.map(bytes)
    assert set(a.index) == set(b.index)
    for host in a.index:
        assert a[host] == b[host], host  # bit-identical per key

    exact = (
        pages.select("host", "url").toPandas().groupby("host").url.nunique()
    )
    bound = 4 * 1.04 / (2**12) ** 0.5
    hot = exact.idxmax()
    assert exact[hot] / len(pages.toPandas()) > 0.1  # data really is skewed
    for host, blob in a.items():
        est = serde.deserialize(blob).estimate()
        assert abs(est - exact[host]) <= max(2, bound * exact[host]), host


def test_salted_grouped_kll_deterministic_at_2m(spark):
    """r2 VERDICT item 8 — the last determinism surface above fixture
    size: two salted grouped KLL builds over the 2M-page cached table,
    with DIFFERENT physical row orders and partitionings, must be
    bit-identical per group (build_grouped canonicalizes: values sorted
    within each salt partial, partials merged in salt order)."""
    import numpy as np

    from pyspark.sql import functions as F

    from bloomfilter_spark.operators.build import build_grouped, kll_factory
    from bloomfilter_spark.sources.pages import ensure_pages

    path = ensure_pages(spark, 2_000_000)
    base = spark.read.parquet(path).select(
        "lang", F.length("text").alias("text_len")
    )
    fac = kll_factory(k=200)
    a = (
        build_grouped(base.repartition(16), "lang", "text_len", fac, salts=8)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    shuffled = base.orderBy(F.rand(seed=42)).repartition(37)
    b = (
        build_grouped(shuffled, "lang", "text_len", fac, salts=8)
        .toPandas()
        .sort_values("lang")
        .reset_index(drop=True)
    )
    assert list(a["lang"]) == list(b["lang"]) and len(a) > 0
    for i in range(len(a)):
        assert bytes(a["blob"][i]) == bytes(b["blob"][i]), a["lang"][i]
    assert np.array_equal(a["rows"].to_numpy(), b["rows"].to_numpy())

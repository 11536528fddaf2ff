"""The crawl's table bookkeeping costs no Spark job that data does not
need: empty bootstrap tables are written on the driver, reads take the
schema from table metadata, and a frontier already proven empty ends
the crawl without reading anything. Also pins the job count of a
steady crawl wave and of a refresh wave, and the seen-filter sizing
state that a pre-seeded ``init`` hands to the waves."""

from __future__ import annotations

import pytest
from conftest import spark_jobs
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

from fundamental_spark import schemas
from fundamental_spark.crawl.runner import CrawlRunner
from fundamental_spark.functions.extractors import extract_items
from fundamental_spark.operators.lifecycle import upsert_properties
from fundamental_spark.synth.site import build_site, web_rows
from fundamental_spark.tableformat import Warehouse

EMPTY_BOOTSTRAP = {
    "frontier_done": schemas.FRONTIER_SCHEMA,
    "documents": schemas.DOCUMENTS_SCHEMA,
    "crawl_log": schemas.CRAWL_LOG_SCHEMA,
    "wave_metrics": schemas.WAVE_METRICS_SCHEMA,
    "refreshed_urls": schemas.REFRESHED_URLS_SCHEMA,
    "neardup_bands": schemas.NEARDUP_BANDS_SCHEMA,
    "neardup_pairs": schemas.NEARDUP_PAIRS_SCHEMA,
    "response_cache": schemas.RESPONSE_CACHE_SCHEMA,
}


def _site():
    return build_site(seed=53, cities=("zwolle",), listings_per_city=12, page_size=10)


def _runner(spark, root, site, **kw):
    web = spark.createDataFrame(web_rows(site), "url string, html string")
    return CrawlRunner(spark=spark, warehouse_root=str(root), web=web,
                       spider_type="active", **kw)


def _seeds(site):
    return [(site.search_url(c, 1), c) for c in site.cities]


def _sample(dt):
    """One non-null value of type ``dt``."""
    if isinstance(dt, StructType):
        return tuple(_sample(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return [_sample(dt.elementType)]
    return {StringType: "x", IntegerType: 1, LongType: 2, DoubleType: 0.5}[type(dt)]


def test_init_writes_empty_bootstrap_tables_without_jobs(spark, tmp_path):
    """Only frontier_pending and url_seen (Spark's xxhash64 url keys)
    are Spark writes; switching on the optional empty tables adds no
    job."""
    site = _site()
    counts = []
    for i, kw in enumerate([{}, {"neardup_dedup": True, "http_cache": True}]):
        r = _runner(spark, tmp_path / f"wh{i}", site, **kw)
        with spark_jobs(spark) as jobs:
            r.init(_seeds(site))
        counts.append(len(jobs))
    assert counts == [2, 2]


def test_empty_bootstrap_tables_read_back_and_union(spark, tmp_path):
    site = _site()
    r = _runner(spark, tmp_path / "wh", site, neardup_dedup=True, http_cache=True)
    r.init(_seeds(site))
    for name, schema in EMPTY_BOOTSTRAP.items():
        empty = r.table(name)
        assert empty.schema.simpleString() == schema.simpleString(), name
        assert empty.count() == 0, name
        row = _sample(schema)
        r.wh.append_delta(name, spark.createDataFrame([row], schema))
        got = r.wh.read_deltas(name).collect()
        assert [tuple(g) for g in got] == [row], name


def test_every_table_matches_its_schemas_constant(spark, tmp_path):
    """After a crawl and one properties upsert, every crawl and
    lifecycle table has its ``schemas.py`` layout. The sink-written
    documents snapshots record no schema of their own, so each is also
    read by plain parquet footer inference."""
    site = _site()
    r = _runner(spark, tmp_path / "wh", site, neardup_dedup=True, http_cache=True)
    r.init(_seeds(site))
    r.run()
    wh = Warehouse(spark, str(tmp_path / "life"))
    upsert_properties(wh, extract_items(r.table("documents")), wave=1)
    got = [(name, r.table(name), schema) for name, schema in EMPTY_BOOTSTRAP.items()]
    got += [
        ("frontier_pending", r.table("frontier_pending"), schemas.FRONTIER_SCHEMA),
        ("url_seen", r.table("url_seen"), schemas.URL_SEEN_SCHEMA),
        ("properties", wh.read("properties"), schemas.PROPERTIES_SCHEMA),
        ("property_history", wh.read_deltas("property_history"),
         schemas.PROPERTY_HISTORY_SCHEMA),
    ]
    n_docs = 0
    for v in range(2, r.wh.current_version("documents") + 1):  # v1: the bootstrap
        snap = spark.read.parquet(r.wh._snapshot_dir("documents", v))
        got.append((f"documents v{v} footer", snap, schemas.DOCUMENTS_SCHEMA))
        n_docs += snap.count()
    assert n_docs == 12
    wrong = [
        (name, df.schema.simpleString())
        for name, df, schema in got
        if df.schema.simpleString() != schema.simpleString()
    ]
    assert not wrong, wrong


def test_terminating_step_submits_no_job_and_init_crawls_again(spark, tmp_path):
    site = _site()
    r = _runner(spark, tmp_path / "wh", site)
    r.init(_seeds(site))
    while r._next_nonempty is not False:
        assert r.step()
    waves = r.wave
    with spark_jobs(spark) as jobs:
        assert r.step() is False
    assert jobs == []
    assert r.wave == waves
    r.init(_seeds(site))
    assert r._next_nonempty is None
    assert r.step() is True
    assert r.wave == 1


@pytest.mark.parametrize("mode, wave, want", [("crawl", 2, 28), ("refresh", 1, 24)])
def test_steady_wave_job_count(spark, tmp_path, mode, wave, want):
    """A non-terminal wave's job count: crawl wave 2 fetches search page
    2 and the ten detail pages found on page 1; refresh wave 1 fetches
    the seed page. The wave's phases add no job of their own."""
    site = _site()
    r = _runner(spark, tmp_path / "wh", site, mode=mode)
    r.init(_seeds(site))
    for _ in range(wave - 1):
        assert r.step()
    with spark_jobs(spark) as jobs:
        assert r.step()
    assert len(jobs) == want


def test_preseeded_init_sets_seen_count(spark, tmp_path):
    site = _site()
    urls = [f"https://www.funda.nl/detail/koop/x/huis-{i}/" for i in range(37)]
    r = _runner(spark, tmp_path / "df", site)
    r.init(_seeds(site), existing_urls=spark.createDataFrame([(u,) for u in urls], "url string"))
    assert r.seen_count == len(urls)
    assert _runner(spark, tmp_path / "df", site).seen_count == len(urls)  # checkpoint reload
    r = _runner(spark, tmp_path / "list", site)
    r.init(_seeds(site), existing_urls=urls[:5])
    assert r.seen_count == 5


class _Stop(Exception):
    pass


@pytest.mark.parametrize("prefilter", ["cuckoo"])
def test_seen_filter_sizes_shards_with_runner_n_shards(spark, tmp_path, monkeypatch, prefilter):
    from fundamental_spark.crawl import seen

    sizes = []

    def capture(url_seen, n_keys_per_shard):
        sizes.append(n_keys_per_shard)
        raise _Stop

    monkeypatch.setattr(seen, f"build_{prefilter}", capture)
    site = _site()
    r = _runner(spark, tmp_path / "wh", site, n_shards=7, prefilter_min_seen=1)
    urls = [f"https://www.funda.nl/detail/koop/x/huis-{i}/" for i in range(14_000)]
    r.init(_seeds(site), existing_urls=urls)
    with pytest.raises(_Stop):
        r.step()
    assert sizes == [14_000 // 7]

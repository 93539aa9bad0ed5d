"""CrawlEngine.export_warc: the crawl → archive round trip. Every
status-200 fetch with a known document becomes exactly one WARC response
record; reading the shards back through the S1 scan recovers the same
URI multiset and parseable payloads.
"""

import pytest
from pyspark.sql import functions as F

from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine
from ccspark.warc import warc_records


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("warcx_state")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    eng.run()
    return eng


def test_roundtrip(engine, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("warcx") / "arch")
    manifest = engine.export_warc(out).collect()
    assert manifest and all(m.n_records > 0 for m in manifest)

    want = (engine.scheduled_rounds().filter(F.col("status") == 200)
            .select("url")
            .join(engine.docs.select(F.col("page_url").alias("url")), "url")
            .collect())
    assert sum(m.n_records for m in manifest) == len(want)

    back = warc_records(spark, out + "/*.warc.gz")
    rows = back.filter(F.col("corrupt") == 0).collect()
    assert len(rows) == len(want)
    assert {r.url for r in rows} == {r.url for r in want}


def test_payload_is_span_serialization(engine, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("warcx2") / "arch")
    engine.export_warc(out).collect()
    back = warc_records(spark, out + "/*.warc.gz")
    sample = back.limit(3).collect()
    assert sample
    for r in sample:
        body = r.content if isinstance(r.content, str) else \
            bytes(r.content).decode("utf-8", "replace")
        # every line is offset:kind:body
        for line in body.split("\n"):
            assert line.count(":") >= 2, line

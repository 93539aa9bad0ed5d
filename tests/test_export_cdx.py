"""CrawlEngine.export_cdx: the crawl's CDX index. Shard files are
internally sorted by (cdx_key, ts14), the manifest's first_key matches
each file's first line, and the line multiset covers exactly the
status-200 fetches.
"""

import gzip
import glob

import pytest
from pyspark.sql import functions as F

from ccspark.params import CrawlParams
from ccspark.scheduler import CrawlEngine


@pytest.fixture(scope="module")
def engine(spark, fx_small, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cdx_state")
    eng = CrawlEngine(spark, str(tmp / "s"), fx_small["documents"],
                      fx_small["seeds"], fx_small["robots"],
                      params=CrawlParams(rounds=2), filter_kind=None)
    eng.run()
    return eng


def test_cdx_export(engine, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cdx") / "idx")
    manifest = {r.path: (r.first_key, r.n_records)
                for r in engine.export_cdx(out).collect()}
    assert manifest

    want = {(r.surt, r.url) for r in
            (engine.scheduled_rounds().filter(F.col("status") == 200)
             .select("surt", "url").collect())}

    got = []
    for path in glob.glob(out + "/cdx-*.gz"):
        with gzip.open(path, "rt") as fh:
            lines = [ln.rstrip("\n") for ln in fh]
        assert path in manifest
        first_key, n = manifest[path]
        assert len(lines) == n
        assert lines[0].split(" ")[0] == first_key
        keys = [(ln.split(" ")[0], ln.split(" ")[1]) for ln in lines]
        assert keys == sorted(keys), path  # in-file (key, ts) order
        got.extend(lines)

    assert len(got) == len(want)
    assert {(ln.split(" ")[0], ln.split(" ")[2]) for ln in got} == want
    # every line: key ts14 url digest(8 hex)
    for ln in got:
        k, ts, url, dg = ln.split(" ")
        assert len(ts) == 14 and ts.isdigit()
        assert len(dg) == 8

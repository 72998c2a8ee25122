"""End-to-end crawl over the five REAL wire formats: the one generation loop
(plans.run.run_crawl) over an AdapterWeb.  Each judge family lands
normalized problems in the warehouse, the seen-set gates generation 2 down
to the refresh budget, fetched images decode to the served pixels, and the
crawl keeps the loop's shared invariants — robots (C5), per-host politeness
(C1), the retry budget (C2), kill/resume idempotence (W4/W5) and the
listing-phase abort (C4).  Where a SynthWeb test in test_crawl_loop states
an invariant, it is run here over the adapter site rather than restated."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.urls import image_key
from crawler_spark.plans.run import ListingPhaseError, run_crawl
from crawler_spark.sources import adapterweb as AW
from crawler_spark.sources import codecs
from crawler_spark.sources.warehouse import ParquetWarehouse
from tests import test_crawl_loop as loop

LIMIT = 4


def _crawl(spark, whdir: str, web, generations: int = 2) -> list[dict]:
    return run_crawl(spark, whdir, web, generations=generations, limit=LIMIT,
                     num_buckets=4)


@pytest.fixture(scope="module")
def adapter_crawl(spark, tmp_path_factory):
    whdir = str(tmp_path_factory.mktemp("aw"))
    web = AW.AdapterWeb(n_pids=6)
    metrics = _crawl(spark, whdir, web)
    return ParquetWarehouse(whdir, spark), web, metrics


def test_adapter_crawl_end_to_end(spark, adapter_crawl):
    wh, web, metrics = adapter_crawl

    # generation 0: first crawl — every pid is due (unbounded delta pass)
    assert metrics[0]["problems"] == 5 * 6
    # generation 1: nothing changed — random refresh fills to limit per judge
    assert metrics[1]["problems"] == 5 * 4

    probs = wh.read_appends("problems", as_of_generation=0)
    by_judge = {r.judge: r for r in probs.collect() if r.pid.endswith("1")}
    syz, lut, joy, uoj, bz = (
        by_judge[j] for j in ("syz", "lut", "joy", "uoj", "bzoj")
    )
    # normalized limits per family (reference semantics)
    assert (syz.time_ms, syz.memory_mb) == (1000, 256)
    assert (lut.time_ms, lut.memory_mb) == (2000, 512)
    assert (joy.time_ms, joy.memory_mb) == (500, 256)
    assert (uoj.time_ms, uoj.memory_mb) == (3000, 1024)
    assert (bz.time_ms, bz.memory_mb) == (10000, 162)  # bzoj.go:178-186
    assert syz.description_type == "markdown" and "# 题目描述" in syz.description
    assert "# Content" in lut.description and "# Samples" in lut.description
    assert joy.description.startswith("# joy1")
    assert uoj.description_type == "html" and "\n# Desc\n" in uoj.description
    assert syz.judge_type == "传统" and uoj.judge_type == "传统或交互"
    # bzoj (S11 session source): English 7-section template, html cleanup
    # applied ('<p>\s*'→'<p>', '<br>\n'→'<br>'), no span.red on odd pids
    assert bz.description_type == "html"
    assert "# Description" in bz.description and "# Source" in bz.description
    assert "<p>desc" in bz.description and "<br>more" in bz.description
    assert bz.judge_type == "传统"
    # the loop's problems schema, whichever site was crawled
    assert {f.name: f.dataType.simpleString() for f in probs.schema} == {
        "judge": "string", "pid": "string", "title": "string", "url": "string",
        "time_ms": "int", "memory_mb": "int", "judge_type": "string",
        "description": "string", "description_type": "string",
        "status": "string", "crawl_seq": "int", "generation": "int",
    }

    # seen-set covers all pids after gen 0
    seen = wh.read_snapshot("url_seen")
    assert seen.count() == 5 * 6

    # images: markdown (syzoj) + html (uoj, bzoj-behind-login) links were
    # extracted and the fetched bytes decode to exactly the served pixels
    images = wh.read_appends("images", as_of_generation=0)
    rows = images.collect()
    assert len(rows) == 18  # 6 syzoj + 6 uoj + 6 bzoj
    served = {
        u.split("\x01")[0]: b
        for u, b in web.pages.items()
        if u.split("\x01")[0].endswith(".png")
    }
    url_of = {
        r.image_id: r.url
        for r in spark.createDataFrame([(u,) for u in served], "url string")
        .select("url", image_key(F.col("url")).alias("image_id"))
        .collect()
    }
    assert any(url_of[r.image_id].startswith("http://bzoj.test/") for r in rows)
    for r in rows:
        truth = codecs.decode_png(served[url_of[r.image_id]])
        got = codecs.decode_png(bytes(r.bytes))
        assert (truth == got).all()
        assert (r.h, r.w, r.fmt) == (*truth.shape[:2], "png")
        assert r.phash == codecs.phash64(truth)


def test_adapter_politeness_robots_and_lineage(adapter_crawl):
    wh, _web, metrics = adapter_crawl
    # C1 per-host gaps ≥ min_delay_ms and C2 attempts ≤ 3
    loop.test_politeness_gaps_and_retry_budget((wh, None, metrics))

    # C5: every host's robots.txt was fetched and parsed into host_state
    hs = wh.read_snapshot("host_state").toPandas().set_index("host")
    assert all(list(d) == ["/admin"] for d in hs["robots_disallow"])
    assert hs["crawl_delay_ms"].to_dict() == {
        h: 300 if j == "uoj" else 0 for j, (_k, h, _d) in AW.JUDGES.items()
    }
    # uoj's Crawl-delay (300 ms) outranks its 200 ms budget
    fl = wh.read_appends("fetch_log").toPandas()
    uoj_ts = np.sort(fl.loc[fl["host"] == "uoj.test", "fetched_at"].to_numpy())
    assert (np.diff(uoj_ts) * 1000 >= 300 - 0.01).all()

    # lineage accounts for every problem fetch of each generation
    lin = wh.read_appends("lineage").toPandas().groupby("generation").sum()
    for m in metrics:
        g = m["generation"]
        assert lin.loc[g, "urls_in"] == m["problems"]
        assert lin.loc[g, "fetched"] + lin.loc[g, "failed"] == m["problems"]


def test_adapter_manifest_counts_equal_committed_rows(adapter_crawl):
    wh, _web, metrics = adapter_crawl
    loop.test_manifest_counts_equal_committed_rows((wh, None, metrics))


def test_adapter_resume_is_idempotent(spark, tmp_path_factory, adapter_crawl,
                                      monkeypatch):
    wh, web, metrics = adapter_crawl
    monkeypatch.setattr(loop, "LIMIT", LIMIT)
    loop.test_resume_is_idempotent(spark, web, tmp_path_factory,
                                   (wh, None, metrics))


def test_adapter_listing_failure_aborts_generation(spark, tmp_path_factory):
    """C4: a listing page that cannot be fetched aborts the generation with
    the typed error, and nothing is committed."""
    web = AW.AdapterWeb(n_pids=6)
    del web.pages[AW.listing_url("lut")]
    whdir = str(tmp_path_factory.mktemp("aw_c4"))
    with pytest.raises(ListingPhaseError):
        _crawl(spark, whdir, web, generations=1)
    wh = ParquetWarehouse(whdir, spark)
    assert wh.committed_generations() == []
    assert wh.read_appends("problems") is None
    assert wh.read_snapshot("url_seen") is None

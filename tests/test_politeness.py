"""Robots parsing + frontier filtering + delay merge (C1/C5)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.politeness import apply_robots, parse_robots


def test_parse_robots(spark):
    """Only the groups naming us apply, else the ``*`` groups (RFC 9309
    §2.2.1); a group's header may span several User-agent lines."""
    body = b"User-agent: *\nDisallow: /private\nDisallow: /tmp\nCrawl-delay: 0.35\n"
    two_groups = b"User-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow: /private\n"
    named = (
        b"User-agent: otherbot\nUser-agent: Crawler-Spark\nDisallow: /mine\n"
        b"Crawl-delay: 2\n\nUser-agent: *\nDisallow: /\nCrawl-delay: 9\n"
    )
    res = spark.createDataFrame(
        [("h.test", "ok", body), ("two.test", "ok", two_groups),
         ("named.test", "ok", named), ("empty.test", "ok", b""),
         ("fail.test", "error", None)],
        "host string, status string, body binary",
    )
    rows = {r.host: r for r in parse_robots(res).collect()}
    assert sorted(rows["h.test"].robots_disallow) == ["/private", "/tmp"]
    assert rows["h.test"].crawl_delay_ms == 350
    assert rows["two.test"].robots_disallow == ["/private"]
    assert rows["two.test"].crawl_delay_ms == 0
    assert rows["named.test"].robots_disallow == ["/mine"]
    assert rows["named.test"].crawl_delay_ms == 2000
    assert rows["empty.test"].robots_disallow == [] and rows["empty.test"].crawl_delay_ms == 0
    assert rows["fail.test"].robots_disallow == []


def test_parse_robots_field_names_are_case_insensitive(spark):
    """RFC 9309 §2.2.2: a lowercase or mixed-case field is the same field,
    and whitespace may surround the field name."""
    body = (
        b"user-agent: *\ndisallow: /a\nDISALLOW: /b\nDisAllow:/c\n"
        b" Disallow : /d\ncrawl-DELAY: 0.5\n"
    )
    res = spark.createDataFrame(
        [("h.test", "ok", body)], "host string, status string, body binary"
    )
    (row,) = parse_robots(res).collect()
    assert sorted(row.robots_disallow) == ["/a", "/b", "/c", "/d"]
    assert row.crawl_delay_ms == 500


def test_apply_robots_filters_and_merges_delay(spark):
    frontier = spark.createDataFrame(
        [
            ("http://h.test/ok/1", "h.test"),
            ("http://h.test/private/2", "h.test"),
            ("http://open.test/private/3", "open.test"),
        ],
        "url string, host string",
    )
    host_state = spark.createDataFrame(
        [
            ("h.test", 100, ["/private"], 250, None),
            ("open.test", 200, [], 0, None),
        ],
        "host string, min_delay_ms int, robots_disallow array<string>, "
        "crawl_delay_ms int, next_allowed_ts double",
    )
    out = apply_robots(frontier, host_state).collect()
    urls = sorted(r.url for r in out)
    assert urls == ["http://h.test/ok/1", "http://open.test/private/3"]
    delays = {r.url: r.min_delay_ms for r in out}
    # effective delay = max(min_delay, crawl_delay)
    assert delays["http://h.test/ok/1"] == 250
    assert delays["http://open.test/private/3"] == 200


def test_unknown_host_passes_with_default_delay(spark):
    frontier = spark.createDataFrame(
        [("http://new.test/x", "new.test")], "url string, host string"
    )
    host_state = spark.createDataFrame(
        [("h.test", 100, ["/x"], 0, None)],
        "host string, min_delay_ms int, robots_disallow array<string>, "
        "crawl_delay_ms int, next_allowed_ts double",
    )
    out = apply_robots(frontier, host_state).collect()
    assert len(out) == 1 and out[0].min_delay_ms == 200


def test_robots_wildcard_and_end_anchor_patterns(spark):
    """RFC 9309 §2.2.3: ``*`` matches any sequence and a trailing ``$``
    anchors the end; rules match the path with its query, and every other
    character (regex metacharacters and ``\\E`` included) matches literally."""
    paths = {
        "h.test": [
            "/img/a.png", "/a/b/c.png", "/a.png.html", "/a.png?x=1",
            "/private", "/private/x", "/privatex", "/private?x=1",
            "/q+(1)ab.txt", "/qq1abxtxt", "/q+(1)abxtxt",
            "/e\\Eq.z", "/eq.z", "/e\\E",
            "/open?sid=7", "/open?x=1&sid=7", "/open?x=1",
            "/plain/prefix/1", "/open",
        ],
        "g.test": ["/a?b", "/a", "/?"],
    }
    frontier = spark.createDataFrame(
        [(f"http://{h}{p}#frag", h) for h, ps in paths.items() for p in ps],
        "url string, host string",
    )
    host_state = spark.createDataFrame(
        [
            ("h.test", 100, ["/*.png$", "/private$", "/q+(1)*.txt$",
                             "/e\\E*z", "/*?sid=", "/*&sid=", "/plain/"], 0, None),
            ("g.test", 100, ["/*?"], 0, None),
        ],
        "host string, min_delay_ms int, robots_disallow array<string>, "
        "crawl_delay_ms int, next_allowed_ts double",
    )
    kept = {
        r.url[len("http://"):-len("#frag")]
        for r in apply_robots(frontier, host_state).collect()
    }
    assert kept == {
        "h.test/a.png.html", "h.test/a.png?x=1",
        "h.test/private/x", "h.test/privatex", "h.test/private?x=1",
        "h.test/qq1abxtxt", "h.test/q+(1)abxtxt",
        "h.test/eq.z", "h.test/e\\E",
        "h.test/open?x=1", "h.test/open",
        "g.test/a",
    }

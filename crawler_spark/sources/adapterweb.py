"""Deterministic synthetic web in the five REFERENCE wire formats.

`sources/synthweb.py` drives the golden crawl-loop parity tests with its own
page shapes; this module instead serves pages in the exact formats the real
judges speak — SYZOJ export JSON, Lutece GraphQL, JoyOI REST, UOJ HTML and
BZOJ HTML behind a login — so the adapter registry (sources/adapters.py) is
exercised through the full generation lifecycle: ``AdapterWeb`` implements
the ``plans.run.Site`` contract, and the one loop crawls it with
``python -m crawler_spark.plans.run --web adapter``.  All content is a pure
function of (judge, pid, seed): re-running a generation reproduces every
byte.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.operators.fetch import (
    HostRoutingFetcher,
    MappingFetcher,
    SessionFetcher,
)
from crawler_spark.operators.images import decode_assets
from crawler_spark.sources import codecs
from crawler_spark.sources.adapters import (
    parse_bzoj_listing,
    parse_bzoj_problem,
    parse_joyoi_listing,
    parse_joyoi_problem,
    parse_lutece_listing,
    parse_lutece_problem,
    parse_syzoj_problem,
    parse_uoj_listing,
    parse_uoj_problem,
)

JUDGES = {
    # judge → (kind, host, min_delay_ms); delays mirror the reference's
    # 200 default, 500 lutece and 100 bzoj budgets
    "syz": ("json", "syz.test", 200),
    "lut": ("graphql", "lut.test", 500),
    "joy": ("rest", "joy.test", 200),
    "uoj": ("html", "uoj.test", 200),
    "bzoj": ("bzoj", "bzoj.test", 100),
}

# S11 — judges whose pages sit behind a login exchange (bzoj.go:38-68).
# The AdapterWeb serves the session token at the login url and keys every
# protected page as url‖'␁'‖token — the SessionFetcher protocol.
LOGIN_URLS = {"bzoj": "http://bzoj.test/login.php"}
_TOKENS = {"bzoj": "sess-bzoj-7f3a"}

# every host serves robots.txt (C5); uoj's Crawl-delay outranks its 200 ms
ROBOTS_TXT = {j: "User-agent: *\nDisallow: /admin\n" for j in JUDGES}
ROBOTS_TXT["uoj"] += "Crawl-delay: 0.3\n"


def listing_url(judge: str) -> str:
    host = JUDGES[judge][1]
    return {
        "syz": f"http://{host}/problems?page=1",
        "lut": f"http://{host}/graphql:list-1",
        "joy": f"http://{host}/api/problem/all?page=1",
        "uoj": f"http://{host}/problems?page=1",
        "bzoj": f"http://{host}/problemset.php?page=1",
    }[judge]


def problem_url(judge: str, pid: str) -> str:
    host = JUDGES[judge][1]
    return {
        "syz": f"http://{host}/problem/{pid}/export",
        "lut": f"http://{host}/graphql:p-{pid}",
        "joy": f"http://{host}/api/problem/{pid}",
        "uoj": f"http://{host}/problem/{pid}",
        "bzoj": f"http://{host}/problem.php?id={pid}",
    }[judge]


def image_url(judge: str, pid: str) -> str:
    return f"http://{JUDGES[judge][1]}/img/{pid}.png"


def _parse_listing(judge: str, bodies: DataFrame) -> DataFrame:
    """Listing page rows of one judge → its (pid, title) rows."""
    kind = JUDGES[judge][0]
    if kind == "graphql":
        return parse_lutece_listing(bodies)
    if kind == "rest":
        return parse_joyoi_listing(bodies, "Local")
    if kind == "bzoj":
        return parse_bzoj_listing(bodies)
    # uoj, and syzoj, whose listing page is an HTML table too
    return parse_uoj_listing(bodies)


def _parse_problem(judge: str, bodies: DataFrame) -> DataFrame:
    """(pid, body) rows of one judge → its normalized problem columns."""
    kind, host, _delay = JUDGES[judge]
    if kind == "json":
        return parse_syzoj_problem(bodies, home_url=f"http://{host}").drop("ok")
    if kind == "graphql":
        return parse_lutece_problem(bodies)
    if kind == "rest":
        out = parse_joyoi_problem(bodies, src="Local", samples_col=None)
        return out.withColumn("judge_type", F.lit(None).cast("string"))
    if kind == "bzoj":
        return parse_bzoj_problem(bodies)
    return parse_uoj_problem(bodies)


def _per_judge(res: DataFrame, parse, *cols) -> DataFrame:
    """Each judge's parser over its fetched ok rows, unioned, with a
    ``judge`` column.  Callers checkpoint the parsed result: the five
    wire-format plans are large, and every later stage of the generation
    would otherwise plan them again (on 4 vCPUs that took a 5-judge
    generation from ~30 s to ~65 s)."""
    ok = res.filter(F.col("status") == "ok").withColumn(
        "body", F.col("body").cast("string")
    )
    parts = [
        parse(j, ok.filter(F.col("judge") == j)).select(F.lit(j).alias("judge"), *cols)
        for j in JUDGES
    ]
    return reduce(DataFrame.unionByName, parts)


def _by_judge(values: dict[str, str]) -> Column:
    """Per-judge literal lookup on the ``judge`` column."""
    return F.create_map(*(F.lit(x) for kv in values.items() for x in kv))[
        F.col("judge")
    ]


def _png(judge: str, pid: str) -> bytes:
    rng = np.random.default_rng(abs(hash((judge, pid))) % (2**32))
    return codecs.encode_png(
        rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)
    )


@dataclass
class AdapterWeb:
    """The page universe: n_pids problems per judge."""

    n_pids: int = 6
    pages: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        for judge, (_kind, host, _delay) in JUDGES.items():
            key = self._page_key(judge)
            if judge in LOGIN_URLS:
                self.pages[LOGIN_URLS[judge]] = _TOKENS[judge]
            self.pages[key(f"http://{host}/robots.txt")] = ROBOTS_TXT[judge]
            pids = [f"{judge}{i}" for i in range(1, self.n_pids + 1)]
            self.pages[key(listing_url(judge))] = self._listing_body(
                judge, pids
            )
            for pid in pids:
                self.pages[key(problem_url(judge, pid))] = self._problem_body(
                    judge, pid
                )
                self.pages[key(image_url(judge, pid))] = _png(judge, pid)

    @staticmethod
    def _page_key(judge: str):
        """Protected judges' pages are keyed url‖'␁'‖token (the
        SessionFetcher wire protocol); public judges' by plain url."""
        if judge in LOGIN_URLS:
            tok = _TOKENS[judge]
            return lambda u: f"{u}\x01{tok}"
        return lambda u: u

    # -- the plans.run.Site contract -------------------------------------------

    def judge_rows(self) -> list[tuple[str, str, int]]:
        return [(j, host, delay) for j, (_kind, host, delay) in JUDGES.items()]

    def fetcher(self):
        """MappingFetcher over the page universe; hosts behind a login (S11 —
        bzoj) are routed through a SessionFetcher that performs the
        cookie-jar exchange once per worker (bzoj.go:38-68)."""
        base = MappingFetcher(self.pages)
        routes = {
            JUDGES[j][1]: SessionFetcher(base, login)
            for j, login in LOGIN_URLS.items()
        }
        return HostRoutingFetcher(routes, base)

    def first_page_url(self) -> Column:
        return _by_judge({j: listing_url(j) for j in JUDGES})

    def listing_pages(self, first_res: DataFrame) -> DataFrame:
        # every judge here lists its problems on a single page
        return first_res.select("url", "host", "judge")

    def parse_listing(self, listing_res: DataFrame) -> DataFrame:
        pos = F.row_number().over(Window.partitionBy("judge").orderBy("pid"))
        return (
            _per_judge(listing_res, _parse_listing, "pid", "title")
            .select(
                "judge", _by_judge({j: JUDGES[j][1] for j in JUDGES}).alias("host"),
                "pid", "title", pos.cast("int").alias("listing_pos"),
            )
            .localCheckpoint()
        )

    def problem_url(self) -> Column:
        tmpl = _by_judge({j: problem_url(j, "%s") for j in JUDGES})
        return F.replace(tmpl, F.lit("%s"), F.col("pid"))

    def parse_problem(self, prob_res: DataFrame) -> DataFrame:
        parsed = _per_judge(
            prob_res, _parse_problem, "pid",
            F.col("time_ms").cast("int").alias("time_ms"),
            F.col("memory_mb").cast("int").alias("memory_mb"),
            "judge_type", "description", "description_type",
        )
        # the row keeps the url it was fetched from; a failed fetch joins no
        # parsed columns, so its content stays NULL
        return (
            prob_res.select(
                "judge", "pid", "title", "url", "status", "crawl_seq", "generation"
            )
            .join(parsed, ["judge", "pid"], "left")
            .localCheckpoint()
        )

    def decode_assets(self, asset_res: DataFrame) -> DataFrame:
        return decode_assets(asset_res)  # no caption source on these judges

    # -- page bodies ---------------------------------------------------------

    def _listing_body(self, judge: str, pids: list[str]) -> str:
        kind = JUDGES[judge][0]
        if kind == "bzoj":
            # bzoj problemset.php: NBSP-joined page numbers in the <h3>
            # paginator (bzoj.go:110-125), alternating even/odd rows whose
            # 2nd td is the pid and 3rd holds the title <a> (bzoj.go:141-154)
            rows = "".join(
                f"<tr align=center class='{'evenrow' if i % 2 == 0 else 'oddrow'}'>"
                f"<td><img src='ok.gif'></td><td>{p}</td>"
                f"<td><a href='problem.php?id={p}'>T-{p}</a></td>"
                f"<td>0</td></tr>"
                for i, p in enumerate(pids)
            )
            return (
                "<html><body><h3>1&nbsp;1</h3>"
                f"<table align=center>{rows}</table></body></html>"
            )
        if kind == "graphql":
            return json.dumps(
                {
                    "data": {
                        "problemList": {
                            "maxPage": 1,
                            "problemList": [
                                {"title": f"T-{p}", "slug": p} for p in pids
                            ],
                        }
                    }
                }
            )
        if kind == "rest":
            return json.dumps(
                {
                    "code": 200,
                    "msg": "",
                    "data": {
                        "result": [
                            {
                                "id": p,
                                "title": f"T-{p}",
                                "tags": "",
                                "isVisible": True,
                                "source": "Local",
                            }
                            for p in pids
                        ],
                        "count": len(pids),
                    },
                }
            )
        # html family (uoj shape; syzoj's listing is also an HTML table)
        rows = "".join(
            f"<tr> <td>#{p}</td> <td><a href='/problem/{p}'>T-{p}</a></td> </tr>"
            for p in pids
        )
        return (
            "<html><body><ul class='pagination'><li><a>1</a></li></ul>"
            f"<table><tbody>{rows}</tbody></table></body></html>"
        )

    def _problem_body(self, judge: str, pid: str) -> str:
        kind = JUDGES[judge][0]
        img = image_url(judge, pid)
        if kind == "bzoj":
            # bzoj problem.php: limits as text nodes after the green label
            # spans, span.red marks Special Judge, 7 .content sections; the
            # '<p>\n' in the description exercises the bzoj.go:225-227
            # cleanup regexes.  Pids ending in an even digit get a notice
            # banner (shifts the Go's nth-child pos 3→4) + span.red.
            even = int(pid[-1]) % 2 == 0
            notice = "<div class='notice'>maintenance</div>" if even else ""
            red = "<span class=red>Special Judge</span>" if even else ""
            return (
                f"<html><body>{notice}<center><h2>{pid}</h2>"
                "<span class=green>Time Limit: </span>10 Sec&nbsp;&nbsp;"
                "<span class=green>Memory Limit: </span>162 MB"
                f"{red}</center>"
                f'<div class="content"><p>\n  desc <img src="{img}"></p></div>'
                '<div class="content">in</div>'
                '<div class="content">out</div>'
                '<div class="content">sin</div>'
                '<div class="content">sout</div>'
                '<div class="content">hint<br>\nmore</div>'
                '<div class="content">src</div>'
                "</body></html>"
            )
        if kind == "json":  # syzoj export
            return json.dumps(
                {
                    "success": True,
                    "obj": {
                        "title": f"T-{pid}",
                        "description": f"desc ![fig]({img})",
                        "input_format": "in",
                        "output_format": "out",
                        "example": "ex",
                        "limit_and_hint": "hint",
                        "time_limit": 1000,
                        "memory_limit": 256,
                        "have_additional_file": False,
                        "file_io": False,
                        "type": "traditional",
                        "tags": [],
                    },
                }
            )
        if kind == "graphql":
            return json.dumps(
                {
                    "data": {
                        "problem": {
                            "title": f"T-{pid}",
                            "content": "c",
                            "standardInput": "si",
                            "standardOutput": "so",
                            "constraints": "ct",
                            "note": "n",
                            "limitation": {"timeLimit": 2000, "memoryLimit": 512},
                            "samples": {
                                "sampleList": [
                                    {"inputContent": "1", "outputContent": "2"}
                                ]
                            },
                            "source": "s",
                        }
                    }
                }
            )
        if kind == "rest":
            return json.dumps(
                {
                    "code": 200,
                    "msg": "",
                    "data": {
                        "id": pid,
                        "title": f"T-{pid}",
                        "body": f"# {pid}\nbody",
                        "tags": "",
                        "isVisible": True,
                        "source": "Local",
                        "timeLimitationPerCaseInMs": 500,
                        "memoryLimitationPerCaseInByte": 268435456,
                    },
                }
            )
        # html (uoj statement)
        return (
            '<article class="top-buffer-md"><h3>Desc</h3>'
            "<p>时间限制：$3\\texttt{s}$</p>"
            "<p>内存限制：$1\\texttt{GB}$</p>"
            f'<img src="{img}"></article>'
        )

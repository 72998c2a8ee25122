"""Per-judge source adapters — SURVEY §1.3 / §2.8.

The reference's plugin API is its UDF surface: each judge contributes a
listing reader and a problem normalizer against fixed response shapes.  Here
each adapter is (a) an explicit ``StructType`` for the site's JSON wire
format, (b) pure-column parse/normalize functions producing the engine's
canonical problem columns, byte-identical to the Go normalizers:

- SYZOJ export JSON  — /root/reference/plugin/syzoj/main.go:16-32 (shape),
  149-219 (normalize: 5-section Chinese template, judge-type switch +
  'Special Judge' tag scan, time ms / memory MB as-is).
- Lutece GraphQL     — plugin/lutece/lutece.go:44-78 (shapes), 176-231
  (normalize: 7-section English template + HTML sample table,
  limitation.timeLimit/memoryLimit).
- JoyOI REST         — plugin/joyoi/joyoi.go:30-66 (shapes), 134-170
  (normalize: body passthrough + markdown guard (T10), sample-table append,
  memory bytes → MB, html_final for non-Local sources).

All parsing is ``from_json`` with these schemas + column expressions — no
UDFs.  ``sources/adapterweb.py`` dispatches each judge to its parsers as
that site's side of the generation loop's ``plans.run.Site`` contract; a new
judge = its parsers here plus a dispatch entry there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# wire schemas (from_json StructTypes)
# ---------------------------------------------------------------------------

SYZOJ_EXPORT_SCHEMA = T.StructType(
    [
        T.StructField("success", T.BooleanType()),
        T.StructField(
            "obj",
            T.StructType(
                [
                    T.StructField("title", T.StringType()),
                    T.StructField("description", T.StringType()),
                    T.StructField("input_format", T.StringType()),
                    T.StructField("output_format", T.StringType()),
                    T.StructField("example", T.StringType()),
                    T.StructField("limit_and_hint", T.StringType()),
                    T.StructField("time_limit", T.IntegerType()),
                    T.StructField("memory_limit", T.IntegerType()),
                    T.StructField("have_additional_file", T.BooleanType()),
                    T.StructField("file_io", T.BooleanType()),
                    T.StructField("type", T.StringType()),
                    T.StructField("tags", T.ArrayType(T.StringType())),
                ]
            ),
        ),
    ]
)

_LUTECE_SAMPLE = T.StructType(
    [
        T.StructField("inputContent", T.StringType()),
        T.StructField("outputContent", T.StringType()),
    ]
)

LUTECE_LIST_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "problemList",
                        T.StructType(
                            [
                                T.StructField("maxPage", T.IntegerType()),
                                T.StructField(
                                    "problemList",
                                    T.ArrayType(
                                        T.StructType(
                                            [
                                                T.StructField("title", T.StringType()),
                                                T.StructField("slug", T.StringType()),
                                            ]
                                        )
                                    ),
                                ),
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)

LUTECE_PROBLEM_SCHEMA = T.StructType(
    [
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "problem",
                        T.StructType(
                            [
                                T.StructField("title", T.StringType()),
                                T.StructField("content", T.StringType()),
                                T.StructField("standardInput", T.StringType()),
                                T.StructField("standardOutput", T.StringType()),
                                T.StructField("constraints", T.StringType()),
                                T.StructField("note", T.StringType()),
                                T.StructField(
                                    "limitation",
                                    T.StructType(
                                        [
                                            T.StructField("timeLimit", T.IntegerType()),
                                            T.StructField(
                                                "memoryLimit", T.IntegerType()
                                            ),
                                        ]
                                    ),
                                ),
                                T.StructField(
                                    "samples",
                                    T.StructType(
                                        [
                                            T.StructField(
                                                "sampleList",
                                                T.ArrayType(_LUTECE_SAMPLE),
                                            )
                                        ]
                                    ),
                                ),
                                T.StructField("source", T.StringType()),
                            ]
                        ),
                    )
                ]
            ),
        )
    ]
)

JOYOI_LIST_SCHEMA = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("msg", T.StringType()),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField(
                        "result",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("id", T.StringType()),
                                    T.StructField("title", T.StringType()),
                                    T.StructField("tags", T.StringType()),
                                    T.StructField("isVisible", T.BooleanType()),
                                    T.StructField("source", T.StringType()),
                                ]
                            )
                        ),
                    ),
                    T.StructField("count", T.IntegerType()),
                ]
            ),
        ),
    ]
)

JOYOI_PROBLEM_SCHEMA = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("msg", T.StringType()),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("title", T.StringType()),
                    T.StructField("body", T.StringType()),
                    T.StructField("tags", T.StringType()),
                    T.StructField("isVisible", T.BooleanType()),
                    T.StructField("source", T.StringType()),
                    T.StructField("timeLimitationPerCaseInMs", T.IntegerType()),
                    T.StructField("memoryLimitationPerCaseInByte", T.LongType()),
                ]
            ),
        ),
    ]
)

JOYOI_SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("code", T.IntegerType()),
        T.StructField("msg", T.StringType()),
        T.StructField(
            "data",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("input", T.StringType()),
                        T.StructField("output", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

# HTML sample-table literals, transcribed exactly from the Go raw strings
# (lutece.go:188-196 / joyoi.go:150-160 — including the trailing spaces and
# tab indentation inside the raw literals).
_STYLE = (
    "<style>\n"
    "        table,table tr th, table tr td { border:1px solid #0094ff; }\n"
    "        table { width: 200px; min-height: 25px; line-height: 25px; "
    "text-align: center; border-collapse: collapse;}   \n"
    "    </style>\n"
)

LUTECE_TABLE_HEAD = (
    _STYLE + "<table>\n\t<tr>\n\t\t<td>Input</td>\n\t\t<td>Output</td>\n\t</tr>\n"
)
JOYOI_TABLE_HEAD = (
    "# 样例数据\n"
    + _STYLE
    + "<table>\n\t<tr>\n\t\t<td>输入样例</td>\n\t\t<td>输出样例</td>\n\t</tr>\n"
)

# section templates, exactly the Go fmt.Sprintf raw literals
SYZOJ_TEMPLATE = (
    "\n# 题目描述\n\n%s\n\n# 输入格式\n\n%s\n\n# 输出格式\n\n%s\n\n"
    "# 样例\n\n%s\n\n# 数据范围与提示\n\n%s\n\n"
)
LUTECE_TEMPLATE = (
    "\n# Content\n\n%s\n\n# Standard Input\n\n%s\n\n# Standard Output\n\n%s\n\n"
    "# Samples\n\n%s\n\n# Constraints\n\n%s\n\n# Note\n\n%s\n\n# Source\n\n%s\n"
)


def _sample_rows(list_col: str, in_field: str, out_field: str) -> Column:
    """Concatenate '<tr><td>in</td><td>out</td></tr>' per sample (no
    separators — matches the Go += loop)."""
    return F.expr(
        f"aggregate({list_col}, '', (acc, s) -> concat(acc, '<tr><td>', "
        f"coalesce(s.{in_field}, ''), '</td><td>', coalesce(s.{out_field}, ''), "
        f"'</td></tr>'))"
    )


# ---------------------------------------------------------------------------
# adapters
# ---------------------------------------------------------------------------


def parse_syzoj_problem(
    df: DataFrame, body_col: str = "body", pid_col: str = "pid",
    home_url: str = "https://loj.ac",
) -> DataFrame:
    """SYZOJ export → canonical problem columns (syzoj/main.go:163-213)."""
    p = F.from_json(F.col(body_col), SYZOJ_EXPORT_SCHEMA).alias("p")
    df = df.withColumn("p", p)
    judge = (
        F.when(F.col("p.obj.type") == "traditional", F.lit("传统"))
        .when(F.col("p.obj.type") == "submit-answer", F.lit("提交答案"))
        .when(F.col("p.obj.type") == "interaction", F.lit("交互"))
        .otherwise(F.lit(""))
    )
    judge = F.when(
        F.array_contains(F.coalesce("p.obj.tags", F.array().cast("array<string>")),
                         "Special Judge"),
        F.concat(judge, F.lit(" Special Judge")),
    ).otherwise(judge)
    desc = F.format_string(
        SYZOJ_TEMPLATE,
        F.coalesce("p.obj.description", F.lit("")),
        F.coalesce("p.obj.input_format", F.lit("")),
        F.coalesce("p.obj.output_format", F.lit("")),
        F.coalesce("p.obj.example", F.lit("")),
        F.coalesce("p.obj.limit_and_hint", F.lit("")),
    )
    return df.select(
        F.col(pid_col).alias("pid"),
        F.col("p.success").alias("ok"),
        F.col("p.obj.time_limit").alias("time_ms"),
        F.col("p.obj.memory_limit").alias("memory_mb"),
        judge.alias("judge_type"),
        F.concat(F.lit(home_url + "/problem/"), F.col(pid_col)).alias("url"),
        desc.alias("description"),
        F.lit("markdown").alias("description_type"),
    )


def parse_lutece_listing(df: DataFrame, body_col: str = "body") -> DataFrame:
    """GraphQL listing page → (max_page, exploded (pid,title)) rows
    (lutece.go:44-54, 111-131)."""
    p = F.from_json(F.col(body_col), LUTECE_LIST_SCHEMA)
    df = df.withColumn("p", p)
    return df.select(
        F.col("p.data.problemList.maxPage").alias("max_page"),
        F.explode("p.data.problemList.problemList").alias("item"),
    ).select("max_page", F.col("item.slug").alias("pid"),
             F.col("item.title").alias("title"))


def parse_lutece_problem(
    df: DataFrame, body_col: str = "body", pid_col: str = "pid"
) -> DataFrame:
    """GraphQL problem → canonical columns (lutece.go:176-231)."""
    df = df.withColumn("p", F.from_json(F.col(body_col), LUTECE_PROBLEM_SCHEMA))
    sample = F.concat(
        F.lit(LUTECE_TABLE_HEAD),
        _sample_rows("p.data.problem.samples.sampleList",
                     "inputContent", "outputContent"),
        F.lit("</table>\n"),
    )
    desc = F.format_string(
        LUTECE_TEMPLATE,
        F.coalesce("p.data.problem.content", F.lit("")),
        F.coalesce("p.data.problem.standardInput", F.lit("")),
        F.coalesce("p.data.problem.standardOutput", F.lit("")),
        sample,
        F.coalesce("p.data.problem.constraints", F.lit("")),
        F.coalesce("p.data.problem.note", F.lit("")),
        F.coalesce("p.data.problem.source", F.lit("")),
    )
    return df.select(
        F.col(pid_col).alias("pid"),
        F.col("p.data.problem.limitation.timeLimit").alias("time_ms"),
        F.col("p.data.problem.limitation.memoryLimit").alias("memory_mb"),
        F.lit("传统").alias("judge_type"),
        F.format_string(
            "https://acm.uestc.edu.cn/problem/%s/description", F.col(pid_col)
        ).alias("url"),
        desc.alias("description"),
        F.lit("markdown").alias("description_type"),
    )


def parse_joyoi_listing(
    df: DataFrame, src: str, body_col: str = "body"
) -> DataFrame:
    """REST listing → (pid,title) filtered to source==src && isVisible
    (joyoi.go:30-43, 96-104 — the P3 visibility filter)."""
    df = df.withColumn("p", F.from_json(F.col(body_col), JOYOI_LIST_SCHEMA))
    items = df.select(F.explode("p.data.result").alias("item"))
    return items.filter(
        (F.col("item.source") == src) & F.col("item.isVisible")
    ).select(F.col("item.id").alias("pid"), F.col("item.title").alias("title"))


def parse_joyoi_problem(
    df: DataFrame,
    src: str = "Local",
    body_col: str = "body",
    samples_col: str | None = "samples_body",
    pid_col: str = "pid",
) -> DataFrame:
    """REST problem → canonical columns (joyoi.go:134-170): memory bytes→MB,
    markdown guard (T10), sample-table append for Local, html_final
    passthrough otherwise."""
    df = df.withColumn("p", F.from_json(F.col(body_col), JOYOI_PROBLEM_SCHEMA))
    body = F.coalesce("p.data.body", F.lit(""))
    if src == "Local":
        guarded = F.when(
            (F.length(body) > 0) & (F.substring(body, 1, 1) != "#"),
            F.concat(F.lit("# \n"), body),
        ).otherwise(body)
        if samples_col is not None:
            sp = F.from_json(F.col(samples_col), JOYOI_SAMPLES_SCHEMA)
            df = df.withColumn("sp", sp)
            table = F.concat(
                F.lit(JOYOI_TABLE_HEAD),
                _sample_rows("sp.data", "input", "output"),
                F.lit("</table>\n"),
            )
            has_samples = (
                F.col("sp.code").eqNullSafe(200) & (F.size("sp.data") > 0)
            )
            desc = F.when(has_samples, F.concat(guarded, table)).otherwise(guarded)
        else:
            desc = guarded
        dtype = F.lit("markdown")
    else:
        desc = body
        dtype = F.lit("html_final")
    return df.select(
        F.col(pid_col).alias("pid"),
        F.col("p.data.timeLimitationPerCaseInMs").alias("time_ms"),
        (F.col("p.data.memoryLimitationPerCaseInByte") / 1024 / 1024)
        .cast("int")
        .alias("memory_mb"),
        F.concat(F.lit("http://www.joyoi.cn/problem/"), F.col(pid_col)).alias(
            "url"
        ),
        desc.alias("description"),
        dtype.alias("description_type"),
    )


# ---------------------------------------------------------------------------
# UOJ — the HTML-family adapter (uoj/bzoj/tsinsen parse HTML; uoj is the
# representative: bzoj additionally needs an authenticated session (S11),
# cogs/tsinsen are legacy-excluded from the reference build).
# Listing extraction is a pandas UDF over the page body (SURVEY §1.3: HTML
# has no schema — regex/DOM walk inside an Arrow batch); the statement
# normalization is pure column regexes transcribed from uoj.go:105-159.
# ---------------------------------------------------------------------------

UOJ_LIST_SCHEMA = "max_page int, pid string, title string"


def parse_uoj_listing(df: DataFrame, body_col: str = "body") -> DataFrame:
    """UOJ listing page → (max_page, pid, title) rows (uoj.go:49-99:
    paginator max over the pagination <ul>, '#' stripped from pids (P5),
    titles from the row's <a>)."""
    import re as _re

    import pandas as pd  # noqa: F811

    pag_re = _re.compile(r"<ul[^>]*pagination[^>]*>(.*?)</ul>", _re.S)
    num_re = _re.compile(r">\s*(\d+)\s*<")
    tbody_re = _re.compile(r"<tbody>(.*?)</tbody>", _re.S)
    row_re = _re.compile(
        r"<tr>\s*<td>\s*(#?[^<]*?)\s*</td>\s*<td><a[^>]*>(.*?)</a>", _re.S
    )

    def run(batches):
        for pdf in batches:
            out = {"max_page": [], "pid": [], "title": []}
            for body in pdf[body_col]:
                pag = pag_re.search(body or "")
                nums = [int(x) for x in num_re.findall(pag.group(1))] if pag else []
                max_page = max(nums, default=0)
                tb = tbody_re.search(body or "")
                for m in row_re.finditer(tb.group(1) if tb else ""):
                    out["max_page"].append(max_page)
                    out["pid"].append(m.group(1).replace("#", ""))
                    out["title"].append(m.group(2))
            yield pd.DataFrame(out)

    return df.select(body_col).mapInPandas(run, UOJ_LIST_SCHEMA)


def parse_uoj_problem(
    df: DataFrame, body_col: str = "body", pid_col: str = "pid"
) -> DataFrame:
    """UOJ statement → canonical columns, transcribed from uoj.go:105-159:
    strip the <article> wrapper, <h3>x</h3> → '\\n# x\\n\\n' (T6, untrimmed
    inner — exact parity with x[4:len-5]), LaTeX limit extraction (T7:
    时间限制 $N\\texttt{s}$ → ms, (空间|内存)限制 $N\\texttt{MB|GB}$),
    judge type by Time==0 (T8), description_type 'html'."""
    stmt = F.regexp_extract(
        F.col(body_col),
        r'(?s)<article class="top-buffer-md">(.*?)</article>',
        1,
    )
    stmt = F.when(stmt != "", stmt).otherwise(F.col(body_col))
    html = F.regexp_replace(stmt, r"<h3>(.+?)</h3>", "\n# $1\n\n")
    time_raw = F.trim(
        F.regexp_extract(
            html,
            "时间限制(?:</strong>)*：(?:</strong>)*\\$(.+?)\\\\texttt\\{s\\}\\$",
            1,
        )
    )
    time_ms = F.when(
        time_raw.rlike(r"^\d+$"), time_raw.cast("int") * 1000
    ).otherwise(F.lit(0))
    mem_raw = F.trim(
        F.regexp_extract(
            html,
            "(?:空间|内存)限制(?:</strong>)*：(?:</strong>)*\\$(.+?)\\\\texttt\\{([MG])B\\}\\$",
            1,
        )
    )
    mem_unit = F.regexp_extract(
        html,
        "(?:空间|内存)限制(?:</strong>)*：(?:</strong>)*\\$(.+?)\\\\texttt\\{([MG])B\\}\\$",
        2,
    )
    memory_mb = F.when(
        mem_raw.rlike(r"^\d+$") & (mem_unit == "M"), mem_raw.cast("int")
    ).when(
        mem_raw.rlike(r"^\d+$") & (mem_unit == "G"), mem_raw.cast("int") * 1024
    ).otherwise(F.lit(0))
    judge = F.when(time_ms == 0, F.lit("提交答案")).otherwise(F.lit("传统或交互"))
    return df.select(
        F.col(pid_col).alias("pid"),
        time_ms.alias("time_ms"),
        memory_mb.alias("memory_mb"),
        judge.alias("judge_type"),
        F.concat(F.lit("http://uoj.ac/problem/"), F.col(pid_col)).alias("url"),
        F.concat(F.lit("# 题目描述\n\n"), html).alias("description"),
        F.lit("html").alias("description_type"),
    )


# ---------------------------------------------------------------------------
# BZOJ — the authenticated HTML adapter (bzoj.go).  Listing: paginator max
# from the NBSP-joined <h3> page list (bzoj.go:105-125) + .evenrow/.oddrow
# table rows (bzoj.go:135-155); problem: 7 .content sections templated into
# English markdown headings (bzoj.go:195-224), limits from the text node
# after the 'Time Limit:'/'Memory Limit:' spans (bzoj.go:178-186 — the Go
# addresses them as center:nth-child(pos) > span:nth-child(2|3) with pos
# shifted 3→4 when a class="notice" banner is present; keying on the label
# text is position-independent and matches both layouts), judge type from
# span.red presence (bzoj.go:187-191).  Fetch goes through SessionFetcher
# (S11 — cookie-jar login POST, bzoj.go:38-68).
# ---------------------------------------------------------------------------

BZOJ_TEMPLATE = (
    "\n# Description\n\n%s\n\n# Input\n\n%s\n\n# Output\n\n%s\n\n"
    "# Sample Input\n\n%s\n\n# Sample Output\n\n%s\n\n# Hint\n\n%s\n\n"
    "# Source\n\n%s\n\n"
)

BZOJ_LIST_SCHEMA = "max_page int, pid string, title string"


def parse_bzoj_listing(df: DataFrame, body_col: str = "body") -> DataFrame:
    """BZOJ listing page → (max_page, pid, title) rows.

    max_page: the <h3> paginator joins page numbers with NBSP (rune 160);
    the Go splits on it and maxes the parseable ints (bzoj.go:110-125) —
    here both the literal NBSP and its ``&nbsp;`` entity split.  Rows: the
    pid is the 2nd <td> of each .evenrow/.oddrow <tr> and the title the
    text of the following <td>'s <a> (bzoj.go:141-154's FirstChild walk
    over bzoj's whitespace-free markup).
    """
    import re as _re

    import pandas as pd  # noqa: F811

    h3_re = _re.compile(r"<h3[^>]*>(.*?)</h3>", _re.S)
    row_re = _re.compile(
        r"<tr[^>]*class=['\"]?(?:evenrow|oddrow)['\"]?[^>]*>\s*"
        r"<td[^>]*>.*?</td>\s*<td[^>]*>\s*([^<]*?)\s*</td>\s*"
        r"<td[^>]*>\s*<a[^>]*>(.*?)</a>",
        _re.S,
    )

    def run(batches):
        for pdf in batches:
            out = {"max_page": [], "pid": [], "title": []}
            for body in pdf[body_col]:
                m = h3_re.search(body or "")
                max_page = 0
                if m:
                    for tok in _re.split(
                        "\xa0|&nbsp;", _re.sub(r"<[^>]+>", "", m.group(1))
                    ):
                        try:
                            max_page = max(max_page, int(tok))
                        except ValueError:
                            continue
                for r in row_re.finditer(body or ""):
                    out["max_page"].append(max_page)
                    out["pid"].append(r.group(1))
                    out["title"].append(r.group(2))
            yield pd.DataFrame(out)

    return df.select(body_col).mapInPandas(run, BZOJ_LIST_SCHEMA)


def _bzoj_limit(body_col: str, label: str) -> Column:
    """First space-token of the text node following the '<label>: </span>'
    span, as int; non-numeric → 0 (bzoj.go:178-186's Atoi-error fallback)."""
    raw = F.regexp_extract(
        F.col(body_col), label + r":\s*</span>([^<]*)", 1
    )
    tok = F.regexp_extract(raw, r"^([^ ]+)", 1)
    return F.when(tok.rlike(r"^\d+$"), tok.cast("int")).otherwise(F.lit(0))


def parse_bzoj_problem(
    df: DataFrame, body_col: str = "body", pid_col: str = "pid"
) -> DataFrame:
    """BZOJ statement → canonical columns (bzoj.go:160-229): the first 7
    <div class="content"> sections fill the English-heading template (pages
    with fewer sections get a NULL description — the Go error path that
    drops the problem), time s→ms, memory MB, judge type by span.red,
    '<p>\\s*'→'<p>' + '<br>\\n'→'<br>' cleanup, description_type 'html'."""
    from crawler_spark.functions.text import bzoj_html_cleanup

    secs = F.regexp_extract_all(
        F.col(body_col),
        F.lit(r'(?s)<div class="content">(.*?)</div>'),
        1,
    )
    df = df.withColumn("__secs", secs)
    desc = F.format_string(
        BZOJ_TEMPLATE, *[F.col("__secs")[i] for i in range(7)]
    )
    desc = F.when(F.size("__secs") >= 7, bzoj_html_cleanup(desc)).otherwise(
        F.lit(None).cast("string")
    )
    time_ms = _bzoj_limit(body_col, "Time Limit") * 1000
    memory_mb = _bzoj_limit(body_col, "Memory Limit")
    judge = F.when(
        F.col(body_col).rlike(r"<span[^>]*class=[\"']?red"),
        F.lit("传统 Special Judge"),
    ).otherwise(F.lit("传统"))
    return df.select(
        F.col(pid_col).alias("pid"),
        time_ms.alias("time_ms"),
        memory_mb.alias("memory_mb"),
        judge.alias("judge_type"),
        F.concat(
            F.lit("https://lydsy.com/JudgeOnline/problem.php?id="),
            F.col(pid_col),
        ).alias("url"),
        desc.alias("description"),
        F.lit("html").alias("description_type"),
    )


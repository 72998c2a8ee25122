"""Image/asset pipeline — SURVEY §2.5 T1 (DownloadImage), §2.1 S14, plus the
decode/phash stage for the images table (BASELINE.json#input_hint).

Split exactly as SURVEY T1 prescribes:
- **extract** = two regex passes (markdown ``![..](url)`` tools.go:205 and
  HTML ``<img src>`` tools.go:242-244) → ``regexp_extract_all`` + explode —
  pure SQL;
- **resolve** = relative-URL cascade (tools.go:216-221,256-261) — pure SQL
  (functions.urls.resolve_link);
- **guard** = P4 oversized-link skip (tools.go:210-212) — pure SQL;
- **key** = urlsafe-b64 / md5 fallback (tools.go:228-231) — pure SQL;
- **in-batch dedupe** = explicit ``dropDuplicates`` where the reference
  relied on map-key idempotence (tools.go:239,279);
- **decode/phash/caption** = Arrow-batched ``mapInPandas`` over the fetched
  binary bodies (the only Python, and it's the image codec itself);
- **rewrite** = description links → ``/source/<judge>/<pid>/img/<key>.<ext>``
  (tools.go:240,280) for successfully-fetched assets only — image failure
  leaves the original link intact (C3, tools.go:222-226) — pure SQL, a fold
  of ``replace`` over each problem's ok links.

Scale: ``bytes`` stays out of every shuffle except the single
write-side exchange — extraction/keying runs on strings, the decode UDF runs
*after* the asset fetch in the same stage, and the rewrite's one groupBy
moves problem rows and (src, new_path) string pairs, never image bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.functions.urls import file_extension, image_key, resolve_link

MD_IMG_RE = r"!\[[^\]]*\]\(([^)]+)\)"  # tools.go:205
HTML_IMG_RE = r'<img src="([^"]+)"'  # tools.go:242-244


def extract_image_links(problems: DataFrame, url_col: str = "url") -> DataFrame:
    """T1 extract+resolve+guard+key: one row per embedded image link."""
    desc = F.coalesce(F.col("description"), F.lit(""))
    links = problems.select(
        "judge",
        "pid",
        F.col(url_col).alias("page_url"),
        F.explode(
            F.concat(
                F.regexp_extract_all(desc, F.lit(MD_IMG_RE), 1),
                F.regexp_extract_all(desc, F.lit(HTML_IMG_RE), 1),
            )
        ).alias("src"),
    )
    resolved = links.filter(F.length("src") <= 1000).withColumn(  # P4
        "asset_url", resolve_link(F.col("src"), F.col("page_url"))
    )
    keyed = resolved.withColumn("image_id", image_key(F.col("asset_url"))).withColumn(
        "ext", file_extension(F.col("asset_url"))
    )
    # explicit in-batch dedupe (SURVEY §4): same URL fetched once per batch
    return keyed.withColumn(
        "new_path",
        F.concat(
            F.lit("/source/"), F.col("judge"), F.lit("/"), F.col("pid"),
            F.lit("/img/"), F.col("image_id"),
            F.when(F.col("ext") != "", F.concat(F.lit("."), F.col("ext"))).otherwise(F.lit("")),
        ),
    )


def dedupe_assets(links: DataFrame) -> DataFrame:
    """One fetch per distinct asset URL per generation (map-key idempotence
    made explicit)."""
    return links.select("asset_url", "image_id", "ext").dropDuplicates(["asset_url"])


_DECODE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint"
)


def decode_assets(fetched_assets: DataFrame, web=None) -> DataFrame:
    """Fetched asset bytes → images-table rows (input_hint shape).

    ``web`` (a SynthWeb) supplies the caption lookup — the stand-in for a
    real caption extractor (alt-text/nearby-section model), clearly stubbed.
    Decode + phash run vectorized per Arrow batch via the pure-numpy codecs.
    """
    from crawler_spark.sources import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {"image_id": [], "bytes": [], "w": [], "h": [], "fmt": [],
                   "caption": [], "phash": []}
            for row in pdf.itertuples(index=False):
                data = row.body
                fmt = "png" if row.ext == "png" else "jpeg"
                try:
                    rgb = codecs.decode_image(bytes(data), fmt)
                    w, h = int(rgb.shape[1]), int(rgb.shape[0])
                    ph = codecs.phash64(rgb)
                except Exception:  # noqa: BLE001 — C3: undecodable → error row
                    w = h = 0
                    ph = 0
                cap = web.caption(row.asset_url) if web is not None else None
                out["image_id"].append(row.image_id)
                out["bytes"].append(bytes(data))
                out["w"].append(w)
                out["h"].append(h)
                out["fmt"].append(fmt)
                out["caption"].append(cap)
                out["phash"].append(ph)
            res = pd.DataFrame(out)
            res["w"] = res["w"].astype("int32")
            res["h"] = res["h"].astype("int32")
            res["phash"] = res["phash"].astype("int64")
            yield res

    ok = fetched_assets.filter(F.col("status") == "ok")
    return ok.mapInPandas(run, _DECODE_SCHEMA)


def rewrite_descriptions(problems: DataFrame, links_with_status: DataFrame) -> DataFrame:
    """``problems`` with each successfully-fetched link in ``description``
    rewritten to its /source path (tools.go:240,280); failed links stay
    as-is (tools.go:222-226).

    One shuffle: each problem row and its ok (src, new_path) links meet in
    one groupBy on (judge, pid), and the replaces are a column fold — no
    Python.
    """
    ok_links = links_with_status.filter(F.col("status") == "ok").select(
        "judge", "pid", F.struct("src", "new_path").alias("link")
    )
    grouped = (
        problems.select("judge", "pid", F.struct(*problems.columns).alias("p"))
        .unionByName(ok_links, allowMissingColumns=True)
        .groupBy("judge", "pid")
        .agg(
            F.first("p", ignorenulls=True).alias("p"),
            F.collect_list("link").alias("links"),  # NULL on problem rows
        )
        .filter(F.col("p").isNotNull())
    )

    def replace(desc, link):
        return F.replace(
            F.replace(desc, F.concat(F.lit("]("), link.src, F.lit(")")),
                      F.concat(F.lit("]("), link.new_path, F.lit(")"))),
            F.concat(F.lit('src="'), link.src, F.lit('"')),
            F.concat(F.lit('src="'), link.new_path, F.lit('"')),
        )

    rewritten = F.aggregate("links", F.col("p.description"), replace)
    return grouped.select(
        F.col("p").withField("description", rewritten).alias("p")
    ).select("p.*")

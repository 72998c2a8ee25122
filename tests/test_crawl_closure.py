"""The crawl's import closure stays free of the analytics code.

The crawl loop (``plans.run``) and its real-judge site
(``sources.adapterweb``) must import none of the dedup / similarity /
Arrow-frontier operators or the analytics query registry, so shrinking or
deleting those cannot change what a crawl runs.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]

OFF_PATH = [
    "crawler_spark.operators.dedup",
    "crawler_spark.operators.similarity",
    "crawler_spark.operators.arrow_frontier",
    "crawler_spark.plans.analytics_queries",
]


def test_crawl_imports_no_analytics_module():
    probe = (
        "import json, sys\n"
        "import crawler_spark.plans.run, crawler_spark.sources.adapterweb\n"
        f"print(json.dumps([m for m in {OFF_PATH!r} if m in sys.modules]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=_REPO, capture_output=True, text=True, check=True, timeout=300,
    ).stdout
    assert json.loads(out.strip().splitlines()[-1]) == []

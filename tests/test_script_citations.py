"""Every `scripts/<name>.py` that the code cites exists.

One-off measurement scripts are deleted once their result is written up;
a comment or docstring then cites the OPTIMIZATION_r*.md or
PERFORMANCE.md section that records the result, not the script.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "smart_energy_consumption_analytics_using_big_data_spark"
CITATION = re.compile(r"scripts/(\w+\.py)")


def test_cited_scripts_exist():
    sources = [
        ROOT / "bench.py",
        *PACKAGE.rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        *(ROOT / "tests").glob("*.py"),
    ]
    stale = sorted(
        f"{path.relative_to(ROOT)} cites scripts/{name}"
        for path in sources
        for name in set(CITATION.findall(path.read_text()))
        if not (ROOT / "scripts" / name).is_file()
    )
    assert not stale, stale

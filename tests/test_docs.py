"""Documentation consistency: BASELINE.md / README.md vs the code.

- every markdown table row in BASELINE.md has exactly as many cells as
  its own table header (a splice that drops a cell from one row and
  dangles it on another fails here);
- README's advertised test count matches `pytest --collect-only`.

No Spark session needed; the whole module runs in a few seconds.
"""

from __future__ import annotations

import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _table_blocks(text: str) -> list[list[list[str]]]:
    """Contiguous runs of `|`-rows, one block per markdown table."""
    blocks: list[list[list[str]]] = []
    run: list[list[str]] = []
    for line in text.splitlines() + [""]:
        if line.lstrip().startswith("|"):
            run.append([c.strip() for c in line.strip().strip("|").split("|")])
        elif run:
            blocks.append(run)
            run = []
    return blocks


def test_baseline_tables_well_formed():
    """Each contiguous table block keeps ONE cell count — a row with a
    missing or extra cell fails here."""
    blocks = _table_blocks((REPO / "BASELINE.md").read_text())
    assert blocks, "BASELINE.md has no tables?"
    for block in blocks:
        width = len(block[0])
        for cells in block:
            assert len(cells) == width, (
                f"table row has {len(cells)} cells, its header has "
                f"{width}: {cells[:2]}..."
            )


def test_readme_test_count_matches_collection():
    text = (REPO / "README.md").read_text()
    m = re.search(r"(\d+)\s+tests", text)
    assert m, "README.md no longer states a test count"
    claimed = int(m.group(1))
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", str(REPO / "tests")],
        capture_output=True, text=True, timeout=300,
    )
    cm = re.search(r"(\d+) tests collected", proc.stdout)
    assert cm, f"could not parse collection output: {proc.stdout[-400:]}"
    collected = int(cm.group(1))
    assert claimed == collected, (
        f"README claims {claimed} tests but pytest collects {collected} — "
        "update the README line when adding/removing tests"
    )

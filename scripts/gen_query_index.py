"""Generate docs/QUERIES.md — the one-line index of every declared
query — from the registry itself, so the document can never drift
from the code (tests/test_registry.py pins the sync)."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from polla_spark.plans import ROWS_ONLY_QUERIES, registry  # noqa: E402


def render() -> str:
    reg = registry()
    lines = [
        "# Query inventory",
        "",
        "Generated by `python scripts/gen_query_index.py` — do not edit.",
        f"{len(reg)} declared queries; all oracle-checked against DuckDB at "
        f"sf0.01 except {sorted(ROWS_ONLY_QUERIES)} (rows-only by design).",
        "",
        "| Query | What it covers |",
        "|---|---|",
    ]
    for name in sorted(reg):
        q = reg[name]
        doc = (q.doc or "").replace("|", "\\|")
        mark = " *(rows-only)*" if q.oracle is None else ""
        lines.append(f"| {name} | {doc}{mark} |")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    with open(ROOT / "docs" / "QUERIES.md", "w") as fh:
        fh.write(render())
    print("wrote docs/QUERIES.md")

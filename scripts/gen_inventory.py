"""Regenerate INVENTORY.md from the query registry.

Usage: python scripts/gen_inventory.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mrs_mapreduce_spark.registry import load_all  # noqa: E402

HEADER = """# INVENTORY — declared, oracle-checked operator coverage

Generated from the query registry (`python scripts/gen_inventory.py`).
Every row is one `queries()` entry in `__spark_entry__.py`; "oracle"
means an exact DuckDB SQL twin is declared and value-hash-verified; a
query without one ("**none**") fails the oracle check, which has no
rows-only mode. The *survey* column maps each query to its SURVEY.md §2
inventory row.

| query | SURVEY §2 | oracle | builder |
|---|---|---|---|
"""


def main() -> None:
    registry = load_all()
    lines = [HEADER]
    for name in sorted(registry):
        q = registry[name]
        mod = q.builder.__module__.replace("mrs_mapreduce_spark.", "")
        oracle = "exact SQL" if q.oracle else "**none**"
        lines.append(f"| `{name}` | {q.survey} | {oracle} | `{mod}` |\n")
    n_oracle = sum(1 for q in registry.values() if q.oracle)
    lines.append(
        f"\n**{len(registry)} declared queries — {n_oracle} with exact SQL"
        " oracles.**\n"
    )

    # reverse index: SURVEY §2 row -> queries covering it
    by_row: dict[str, list[str]] = {}
    for name in sorted(registry):
        for row in re.findall(r"[ABCD]\d+", registry[name].survey):
            by_row.setdefault(row, []).append(name)
    lines.append(
        "\n## SURVEY.md §2 coverage index\n\n"
        "Inventory row → declared queries demonstrating it (rows marked\n"
        "'internal/config/implicit' in SURVEY.md §2 are Spark built-ins —\n"
        "shuffle A8, scheduling A13, fault tolerance A15, run modes A16 —\n"
        "covered by session config and the parity layer rather than\n"
        "declared queries; A16/A17 additionally via cli.py, A3 via\n"
        "fileformats.py).\n\n| §2 row | queries |\n|---|---|\n"
    )
    for row in sorted(by_row, key=lambda r: (r[0], int(r[1:]))):
        names = ", ".join(f"`{n}`" for n in by_row[row])
        lines.append(f"| {row} | {names} |\n")
    Path(__file__).resolve().parent.parent.joinpath("INVENTORY.md").write_text(
        "".join(lines)
    )
    print(f"INVENTORY.md: {len(registry)} queries")


if __name__ == "__main__":
    main()

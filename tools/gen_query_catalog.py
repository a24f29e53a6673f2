#!/usr/bin/env python
"""Regenerate docs/QUERIES.md from the registry docstrings: one section
per family module of ``ohsome_planet_spark/plans``, rows sorted by name."""
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

HEADER = """# Query catalog

Every registered query, grouped by its family module under
`ohsome_planet_spark/plans/`, surfaced through
`__spark_entry__.queries()` with a DuckDB twin in `oracle_sql()`.
The driver certifies each row-count/schema/value-hash at sf0.01.
"""


def main():
    import __spark_entry__ as entry

    qs = entry.queries()
    families = defaultdict(list)
    for name, fn in qs.items():
        families[fn.__module__.rsplit(".", 1)[-1]].append(name)
    lines = [HEADER]
    for family in sorted(families):
        lines.append(f"\n## `plans/{family}.py`\n\n")
        lines.append("| Query | What it verifies |\n|---|---|\n")
        for name in sorted(families[family]):
            doc = re.sub(r"\s+", " ", (qs[name].__doc__ or "").strip())
            if len(doc) > 220:
                doc = doc[:217].rstrip() + "..."
            doc = doc.replace("|", "\\|")
            lines.append(f"| `{name}` | {doc} |\n")
    with open(os.path.join(ROOT, "docs", "QUERIES.md"), "w") as fh:
        fh.write("".join(lines))
    print(f"{len(qs)} rows in {len(families)} families")


if __name__ == "__main__":
    main()

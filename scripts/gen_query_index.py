"""Regenerate QUERIES.md — the coverage index mapping every registered
query to its SURVEY §2 operator tags, oracle status, and docstring.

Run after adding queries:  python scripts/gen_query_index.py
"""

from __future__ import annotations

import os
import re
import sys


def main() -> None:
    sys.path.insert(0, os.getcwd())
    from big_data_competition_dxc_spark import plans

    plans.load_all()

    lines = [
        "# QUERIES — registry coverage index",
        "",
        "Generated by `scripts/gen_query_index.py` — do not edit by hand.",
        "",
        f"{len(plans.QUERIES)} queries; "
        f"{sum(1 for e in plans.QUERIES.values() if e.oracle)} oracle-paired "
        "(DuckDB hash-compare), the rest rows-only with self-validating tests.",
        "",
        "| query | SURVEY §2 tags | oracle | summary |",
        "|---|---|---|---|",
    ]
    for name in sorted(plans.QUERIES):
        e = plans.QUERIES[name]
        doc = re.sub(r"\s+", " ", (e.doc or "").strip())
        # expand {CONST} placeholders from the query builder's module globals
        consts = {
            k: v
            for k, v in getattr(e.build, "__globals__", {}).items()
            if isinstance(v, (int, float, str)) and k.isupper()
        }
        try:
            doc = doc.format(**consts)
        except (KeyError, IndexError, ValueError):
            pass  # docstring uses braces some other way; keep verbatim
        first = doc.split(". ")[0]
        if len(first) > 140:  # truncate at a word boundary, not mid-word
            first = first[:140].rsplit(" ", 1)[0] + "…"
        tags = " ".join(e.tags)
        lines.append(
            f"| `{name}` | {tags} | {'✓' if e.oracle else 'rows-only'} | {first} |"
        )
    lines.append("")

    with open("QUERIES.md", "w") as f:
        f.write("\n".join(lines))
    print(f"QUERIES.md: {len(plans.QUERIES)} queries")


if __name__ == "__main__":
    main()

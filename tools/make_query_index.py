"""Generate QUERIES.md — one line per catalog query: name, defining
module, first docstring sentence, oracle status.  Run after adding rows:

    python tools/make_query_index.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def first_sentence(doc: str | None) -> str:
    """First paragraph of the docstring, word-boundary-truncated to ~160
    chars (naive '. ' splitting garbles 'et al. ' and similar)."""
    if not doc:
        return ""
    text = " ".join(doc.strip().split("\n\n", 1)[0].split())
    if len(text) <= 160:
        return text
    cut = text[:160].rsplit(" ", 1)[0]
    return cut + " …"


def main() -> None:
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    lines = [
        "# Query catalog index",
        "",
        f"{len(qs)} queries, {len(oracles)} oracle-backed "
        "(generated by tools/make_query_index.py — do not edit).",
        "",
        "| query | module | oracle | summary |",
        "|---|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        mod = fn.__module__.rsplit(".", 1)[-1]
        summary = first_sentence(fn.__doc__).replace("|", "\\|")
        lines.append(
            f"| {name} | {mod} | {'yes' if name in oracles else '—'} "
            f"| {summary} |")

    with open(os.path.join(ROOT, "QUERIES.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(qs)} queries)")


if __name__ == "__main__":
    main()

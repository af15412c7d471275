"""Regenerate the auto-generated registry section of docs/COVERAGE.md from
the live registry (`driver_queries.build_queries` / `build_oracle_sql`) so
documented query names can never drift from the driver contract again
(round-5 item: round 4 shipped four stale names). Run after any registry
change:

    python tools/gen_coverage.py

The section between the BEGIN/END markers is replaced wholesale; the
narrative above it is hand-maintained and separately lint-checked by
tests/test_coverage_doc.py (every name cited as "(oracled)" must be a
registry name, and every registry name must appear in the doc)."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BEGIN = "<!-- BEGIN GENERATED REGISTRY (tools/gen_coverage.py) -->"
END = "<!-- END GENERATED REGISTRY -->"
DOC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "docs", "COVERAGE.md")


def generated_block() -> str:
    from char_ner_spark.driver_queries import build_oracle_sql, build_queries

    names = sorted(build_queries())
    oracles = build_oracle_sql()
    lines = [
        BEGIN,
        "",
        "## Registry (auto-generated — do not edit by hand)",
        "",
        f"All {len(names)} `queries()` entries; *oracle* = has a DuckDB",
        "`oracle_sql()` twin (rows + schema + values checked by the",
        "driver and by tests/test_driver_oracles.py).",
        "",
        "| # | query | oracle |",
        "|---|---|---|",
    ]
    for i, name in enumerate(names, 1):
        lines.append(f"| {i} | `{name}` | {'DuckDB' if name in oracles else 'rows-only'} |")
    lines += ["", END]
    return "\n".join(lines)


def main() -> int:
    with open(DOC) as f:
        text = f.read()
    block = generated_block()
    if BEGIN in text:
        text = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END), block, text, flags=re.S
        )
    else:
        text = text.rstrip("\n") + "\n\n" + block + "\n"
    with open(DOC, "w") as f:
        f.write(text)
    print(f"wrote registry block ({DOC})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

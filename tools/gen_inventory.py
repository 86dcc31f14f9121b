"""Generate docs/OPERATORS.md: one row per driver-contract query with its
check mode and the first docstring sentence — the single map from
contract query to implementation, regenerated from the registry so it
cannot drift (tests/test_entry.py pins the counts and that the committed
file equals `render()`).

Usage: python tools/gen_inventory.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text


OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "docs",
    "OPERATORS.md",
)


def render() -> str:
    """The full text of docs/OPERATORS.md for the current registry."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    lines = [
        "# Contract-query inventory",
        "",
        f"{len(qs)} queries; {len(oracles)} hash-checked against the DuckDB "
        "oracle at sf0.01"
        + (
            ", the rest rows-only (stochastic training, trained "
            "index/codebook structures, or binary decode paths with no SQL "
            "form — each carries pytest parity instead)."
            if len(oracles) < len(qs)
            else " — every registry query is oracle-backed (no rows-only "
            "queries remain since r9; stochastic training and trained-index "
            "queries use exact payloads plus bound-boolean contracts)."
        ),
        "",
        "Generated by `tools/gen_inventory.py` — do not edit by hand.",
        "",
        "| query | check | what it does |",
        "|---|---|---|",
    ]
    for name, fn in qs.items():
        mode = "oracle" if name in oracles else "rows-only"
        lines.append(f"| `{name}` | {mode} | {first_sentence(fn.__doc__)} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    text = render()
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        f.write(text)
    print(f"wrote {OUT}: {len(entry_mod.queries())} rows")


if __name__ == "__main__":
    main()

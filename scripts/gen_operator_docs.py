"""Generate OPERATORS.md: the user-facing index of every registered
query — name, oracle status, defining module, and the first line of
its docstring. Run: python scripts/gen_operator_docs.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simplemapreduceframework_spark import registry

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "OPERATORS.md",
)


def first_line(fn) -> str:
    doc = (fn.__doc__ or "").strip()
    out = []
    for ln in doc.splitlines():
        ln = ln.strip()
        if not ln:
            break
        out.append(ln)
    return " ".join(out)


def render() -> str:
    """OPERATORS.md's full text for the registry as loaded now."""
    registry.load_all()
    by_module: dict[str, list[str]] = {}
    for name, fn in sorted(registry.QUERIES.items()):
        mod = fn.__module__.rsplit(".", 1)[-1]
        gate = "rows-only" if name in registry.ROWS_ONLY else "oracle"
        desc = first_line(fn)
        by_module.setdefault(mod, []).append(
            f"| `{name}` | {gate} | {desc} |"
        )
    lines = [
        "# OPERATORS — the declared query surface",
        "",
        "Generated by scripts/gen_operator_docs.py from the registry; do",
        "not edit by hand. Every entry is a callable"
        " `(spark, sf_dir) -> DataFrame`",
        "reachable via `registry.all_queries()[name]` and checked against",
        "its DuckDB oracle by the driver gate and tests/test_oracle_parity.",
        "",
        f"Total: {len(registry.QUERIES)} queries"
        f" ({len(registry.ORACLES)} oracle-gated,"
        f" {len(registry.ROWS_ONLY)} rows-only).",
        "",
    ]
    for mod in sorted(by_module):
        lines.append(f"## {mod}")
        lines.append("")
        lines.append("| Query | Gate | Summary |")
        lines.append("|---|---|---|")
        lines.extend(by_module[mod])
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    with open(OUT, "w") as f:
        f.write(render())
    print(f"wrote {OUT} ({len(registry.QUERIES)} queries)")


if __name__ == "__main__":
    main()

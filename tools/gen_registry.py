"""Generate REGISTRY.md — the grep-able index of every queries() op:
op name → defining module:line → oracle kind.

The oracle_defs*.py modules register ops via side effect, which makes
"where is op X?" a grep across the registry; this table is the map.
tests/test_registry_doc.py checks it against the code, and the doc
depends only on the source tree (not on CORRECTNESS_r*.json files), so
it stays fresh until an op is added or moved.

Usage:  python tools/gen_registry.py [--check]
  --check: exit 1 if REGISTRY.md is stale instead of rewriting it.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def op_locations() -> dict[str, str]:
    """op name -> 'module.py:line' of its @register decorator (the name
    may sit on a later line than the opening paren — multi-line
    decorators are common in the registry)."""
    out: dict[str, str] = {}
    pkg = ROOT / "lnex_spark"
    pat = re.compile(r'@register\(\s*[\'"]([\w]+)[\'"]', re.DOTALL)
    for p in sorted(pkg.glob("*.py")):
        text = p.read_text()
        for m in pat.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            out[m.group(1)] = f"lnex_spark/{p.name}:{line}"
    return out


def build_markdown() -> str:
    from lnex_spark.oracles import _PRIORITY, duckdb_sql, spark_queries

    qs = spark_queries()
    sql = duckdb_sql()
    locs = op_locations()

    # STABLE row order: the registry dict's tail order is
    # first-registration order, which shifts if some test imported an
    # oracle_defs module before the sorted bulk load — order the doc by
    # (priority window first, then module file + line), which depends
    # only on the source tree
    def sort_key(name: str):
        loc = locs.get(name, "~:0")
        mod, _, line = loc.partition(":")
        return (mod, int(line or 0), name)

    head = [k for k in _PRIORITY if k in qs]
    tail = sorted((k for k in qs if k not in set(head)), key=sort_key)
    ordered_ops = head + tail

    lines = [
        "# REGISTRY — operator index (generated by tools/gen_registry.py; do not edit)",
        "",
        f"{len(qs)} queries() ops; {len(sql)} carry a DuckDB value-hash oracle,",
        f"{len(qs) - len(sql)} are rows-only by design.  The first {len(head)} rows",
        "are the oracles._PRIORITY ops fronted at the head of queries(), whose",
        "first 50 keys are the sampled correctness window.",
        "",
        "| op | where | oracle |",
        "|---|---|---|",
    ]
    for name in ordered_ops:
        kind = "sql-hash" if name in sql else "rows-only"
        lines.append(f"| {name} | {locs.get(name, '?')} | {kind} |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    md = build_markdown()
    target = ROOT / "REGISTRY.md"
    if "--check" in sys.argv:
        if not target.exists() or target.read_text() != md:
            print("REGISTRY.md is stale — run: python tools/gen_registry.py")
            return 1
        print("REGISTRY.md up to date")
        return 0
    target.write_text(md)
    print(f"wrote {target} ({len(md.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Generate ``queries/INDEX.md``: module → registered query names.

VERDICT r10 #4: the batch modules' names (``_round6a..p`` etc.) say
nothing about their contents. This script renders the registry's
provenance map (captured at ``register()`` time from each builder's
``__module__``/docstring) into a one-page index so an entry can be
found without grepping the modules.

Usage:
    python tools/gen_query_index.py            # rewrite queries/INDEX.md
    python tools/gen_query_index.py --check    # exit 1 if stale (CI)

No Spark session is started: the registry imports are plan-builders
only.
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

OUT = os.path.join(_ROOT, "taxi_trips_etl_spark", "queries", "INDEX.md")


def render() -> str:
    from taxi_trips_etl_spark.queries import _QUERIES
    from taxi_trips_etl_spark.queries._registry import _PROVENANCE

    by_module: dict[str, list[str]] = {}
    for name in _QUERIES:
        mod = _PROVENANCE[name][0].rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append(name)
    lines = [
        "# Query registry index",
        "",
        "GENERATED by `python tools/gen_query_index.py` — do not edit by",
        "hand (CI compares this file against a fresh render). One row per",
        "`register()` entry, grouped by defining module (modules by name,",
        "entries in definition order). Every entry has a DuckDB SQL oracle.",
        "",
        f"**{len(_QUERIES)} entries / {len(by_module)} modules.**",
        "",
    ]
    for mod in sorted(by_module):
        names = by_module[mod]
        lines.append(f"## `{mod}.py` ({len(names)} entries)")
        lines.append("")
        lines.append("| query | description |")
        lines.append("|---|---|")
        for n in names:
            desc = _PROVENANCE[n][1].replace("|", "\\|")
            lines.append(f"| `{n}` | {desc} |")
        lines.append("")  # blank line after each section; the final one
        # doubles as the file's POSIX trailing newline after the join
    return "\n".join(lines)


def main() -> int:
    text = render()
    if "--check" in sys.argv[1:]:
        try:
            with open(OUT, encoding="utf-8") as f:
                on_disk = f.read()
        except FileNotFoundError:
            on_disk = ""
        if on_disk != text:
            print(f"STALE: {OUT} does not match a fresh render — "
                  "run `python tools/gen_query_index.py`")
            return 1
        print(f"OK: {OUT} is current")
        return 0
    with open(OUT, "w", encoding="utf-8") as f:
        f.write(text)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Compare two result files from perfbench/out.

    python3 perfbench/compare.py OLD.json NEW.json

Results are comparable only when taken on the same CPU count with the same
Spark, Python and Java versions; otherwise this prints INVALID and exits 2.
Numbers recorded on another box (such as a 32-CPU one) do not carry over.
"""

from __future__ import annotations

import json
import sys

STAMP_KEYS = ("cpus", "spark", "python", "java")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = (json.load(open(p)) for p in argv)
    diff = [k for k in STAMP_KEYS if old["env"].get(k) != new["env"].get(k)]
    if diff:
        print("INVALID comparison: " + ", ".join(
            f"{k} {old['env'].get(k)} vs {new['env'].get(k)}" for k in diff))
        return 2
    if (old["workload"], old["scale"]) != (new["workload"], new["scale"]):
        print("INVALID comparison: different workload or input size")
        return 2
    for name, m in new["metrics"].items():
        before = old["metrics"].get(name, {}).get("value")
        after = m["value"]
        ratio = f"{after / before:.3f}x" if before and after is not None else "-"
        print(f"{name:24} {before!s:>22} -> {after!s:>22} {m['unit']:8} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

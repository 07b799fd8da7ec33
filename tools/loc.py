#!/usr/bin/env python3
"""Non-blank, non-comment line count of src/main/scala: the ROADMAP's
progress measure for "the same behaviour from less code".

Usage: python3 tools/loc.py [root]      (root defaults to the repo root)

Rule: drop blank lines, lines whose first non-space text is `//`, and
every line of a block comment that starts a line (`/*` or `/**` through
the line holding its closing `*/`). Code lines with a trailing comment
still count.

Check: at commit fbc88fd (before the session-scoped schema cache) this
prints 14108.
"""
import sys
from pathlib import Path


def count(path):
    n = 0
    in_block = False
    for line in path.read_text(encoding="utf-8").splitlines():
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
        elif s and not s.startswith("//"):
            n += 1
    return n


def main():
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).parent.parent
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not files:
        sys.exit(f"loc: no Scala sources under {root}/src/main/scala")
    print(sum(count(f) for f in files))


if __name__ == "__main__":
    main()

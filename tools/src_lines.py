#!/usr/bin/env python3
"""Count the engine's source lines: the non-blank lines of
src/main/**/*.scala that do not start (after indentation) with `//`,
`/*` or `*`, i.e. code lines, not comments. ROADMAP's "src/main
non-blank, non-comment lines" figures are this count.

Usage: tools/src_lines.py [repo_root]   (default: the repo holding this file)
"""
import pathlib
import sys


def count(root):
    n = 0
    for path in sorted((root / "src" / "main").rglob("*.scala")):
        for line in path.read_text(encoding="utf-8").splitlines():
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


if __name__ == "__main__":
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1
                        else pathlib.Path(__file__).resolve().parent.parent)
    print(count(root))

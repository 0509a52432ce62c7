#!/usr/bin/env python3
"""Count the code lines of the engine's main sources.

Usage: python3 tools/main_loc.py [REPO]

Prints the number of lines in REPO/src/main/**/*.scala (REPO defaults to
the checkout holding this script) that are not blank and whose first
non-space characters are not `//`, `/*` or `*`: code lines, with comment
and blank lines left out.
"""
import pathlib
import sys


def code_lines(path: pathlib.Path) -> int:
    n = 0
    for line in path.read_text(encoding="utf-8").splitlines():
        s = line.lstrip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def main() -> int:
    if len(sys.argv) > 2:
        print(__doc__)
        return 2
    repo = pathlib.Path(sys.argv[1] if len(sys.argv) == 2 else pathlib.Path(__file__).parent.parent)
    print(sum(code_lines(p) for p in sorted((repo / "src" / "main").rglob("*.scala"))))
    return 0


if __name__ == "__main__":
    sys.exit(main())

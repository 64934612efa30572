"""Count the non-blank, non-comment lines of Scala sources.

    python3 tools/loc.py src/main/scala        # or: make loc
    python3 tools/loc.py a.scala b.scala

Each path is a `.scala` file or a directory searched for them. A file's
count is its non-blank lines once `//` and `/* ... */` comments (nested
block comments and scaladoc included) are removed; comment markers inside
`"..."` and `\"\"\"...\"\"\"` literals are text, not comments, and the lines of a
triple-quoted string count as code. Prints one count per file, then the
total.
"""
import os
import sys

from copyscan import scala_files, strip_code


def count(text):
    """Non-blank lines of `text` once its comments are removed."""
    return sum(1 for line in strip_code(text, blank_strings=False).split("\n") if line.strip())


def main(argv):
    if not argv:
        print("usage: loc.py <file or dir>...", file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        for f in scala_files(path) if os.path.isdir(path) else [path]:
            with open(f, encoding="utf-8") as src:
                n = count(src.read())
            total += n
            print(f"{n:7d} {f}")
    print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

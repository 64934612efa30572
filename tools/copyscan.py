"""Find code written twice: six-line windows that occur at two or more places.

    python3 tools/copyscan.py src/main/scala      # or: make copyscan

Every `.scala` file under the root is reduced to its code lines: comments
(`//` lines, trailing `//` comments, `/* ... */` and scaladoc blocks), the
contents of `\"\"\"...\"\"\"` strings, `import`/`package` lines and blank
lines are dropped, and each kept line is trimmed with its whitespace
collapsed. A window of 6 consecutive kept lines counts as duplicated when its
joined text is at least 150 characters long and occurs at 2 or more places.
The tool prints each duplicated window with its locations and exits 1 if
there is any, 0 otherwise.
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 6
MIN_CHARS = 150


def strip_code(text, blank_strings=True):
    """The text with comments and triple-quoted string contents blanked.

    Newlines are kept, so line numbers still match the file. Plain string
    and char literals are copied through, so a `//` inside one is no comment;
    so are triple-quoted strings when `blank_strings` is false.
    """
    out = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
            while i < n and depth:
                if text.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif text.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    if text[i] == "\n":
                        out.append("\n")
                    i += 1
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j
            # a closing run of more than three quotes ends with the last three
            while text.startswith('""""', j):
                j += 1
            out.append('"""' + "\n" * text.count("\n", i + 3, j) + '"""' if blank_strings else text[i:j + 3])
            i = j + 3
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            m = re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4])
            out.append(m.group(0))
            i += len(m.group(0))
        else:
            out.append(c)
            i += 1
    return "".join(out)


def code_lines(text):
    """(line number, normalized line) for each line that counts as code."""
    kept = []
    for no, line in enumerate(strip_code(text).split("\n"), 1):
        norm = " ".join(line.split())
        if not norm or re.match(r"(import|package)\b", norm):
            continue
        kept.append((no, norm))
    return kept


def windows(files):
    """Joined window text -> [(path, first line)] over every file given."""
    found = defaultdict(list)
    for path in files:
        with open(path, encoding="utf-8") as f:
            kept = code_lines(f.read())
        for k in range(len(kept) - WINDOW + 1):
            joined = "\n".join(t for _, t in kept[k:k + WINDOW])
            if len(joined) >= MIN_CHARS:
                found[joined].append((path, kept[k][0]))
    return found


def duplicated(files):
    return {w: locs for w, locs in windows(files).items() if len(locs) >= 2}


def scala_files(root):
    for d, _, names in sorted(os.walk(root)):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def main(argv):
    if len(argv) != 1:
        print("usage: copyscan.py <root>", file=sys.stderr)
        return 2
    dups = duplicated(scala_files(argv[0]))
    for w, locs in sorted(dups.items(), key=lambda kv: kv[1]):
        print(", ".join(f"{p}:{line}" for p, line in locs))
        for t in w.split("\n"):
            print("    " + t)
    print(f"{len(dups)} duplicated windows")
    return 1 if dups else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Count the code lines of graft's sources: the lines of each .scala file
under src/main/scala that hold something besides whitespace and comments
(`//` line comments and `/* */` block comments, scaladoc included, nested
as Scala nests them). String and character literals count as code, so a
`//` or `/*` inside one is not a comment.

    python3 tools/sloc.py [root]

Prints one line per file, `<lines> <path>`, sorted by path, then the
total. `root` defaults to src/main/scala below the current directory.
"""
import os
import sys


def code_lines(text):
    """The number of lines of `text` with code outside comments."""
    lines = set()
    line = 0
    depth = 0       # nesting depth of /* */ comments
    quote = None    # '"', '"""' or "'" while inside a literal
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif quote:
            lines.add(line)
            if quote != '"""' and c == "\\":
                i += 2
            elif text.startswith(quote, i):
                if quote == '"""':
                    # a closing """ may be followed by more quotes
                    while text.startswith('"', i + 3):
                        i += 1
                i += len(quote)
                quote = None
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            lines.add(line)
            quote, i = '"""', i + 3
        elif c == '"':
            lines.add(line)
            quote, i = '"', i + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a character literal; a bare ' starts a symbol or type name
            lines.add(line)
            quote, i = "'", i + 1
        else:
            if not c.isspace():
                lines.add(line)
            i += 1
    return len(lines)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join("src", "main", "scala")
    if not os.path.isdir(root):
        sys.exit("sloc: no source dir at %s" % root)
    counts = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts.append((os.path.relpath(p, root), code_lines(fh.read())))
    for p, c in sorted(counts):
        print("%6d %s" % (c, p))
    print("%6d total" % sum(c for _, c in counts))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Build the corpus for `graft.tools.RewriteDiff` from the dialect texts in
the sources.

Usage: python3 tools/rewrite_corpus.py <out> [<root>]

Collects, in file order and without duplicates, every SQL-shaped Scala
string literal in src/main/scala/graft/queries and src/test/scala/graft:
each triple-quoted literal (with `.stripMargin` applied when it follows)
and each plain double-quoted literal. A literal counts as SQL when its
first word is a statement keyword; interpolated literals that splice a
value in (`s"...$x..."`) are skipped, since their text is not a query.
Writes one text per line, with `\\` for a backslash and `\\n` for a
newline, the format RewriteDiff reads. <root> defaults to the current
directory.
"""
import glob
import os
import re
import sys

SQL_START = re.compile(
    r"\s*(\(\s*)*(SELECT|WITH|CREATE|INSERT|ALTER|DROP|SHOW|DESCRIBE|DESC|"
    r"EXPLAIN|OPTIMIZE|TRUNCATE|RENAME|EXISTS|SYSTEM|SET|USE|DETACH|ATTACH)\b",
    re.IGNORECASE)
# a string literal, optionally interpolated: triple-quoted first
LITERAL = re.compile(r'(?:\b(s|f|raw))?("""(.*?)"""(?!")|"((?:[^"\\\n]|\\.)*)")', re.DOTALL)
SCALA_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", '"': '"', "'": "'", "\\": "\\",
                 "b": "\b", "f": "\f"}


def unescape(body):
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            n = body[i + 1]
            if n == "u" and i + 5 < len(body):
                out.append(chr(int(body[i + 2:i + 6], 16)))
                i += 6
                continue
            out.append(SCALA_ESCAPES.get(n, "\\" + n))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def strip_margin(text):
    return "\n".join(re.sub(r"^[ \t]*\|", "", line) for line in text.split("\n"))


def texts(path):
    src = open(path, encoding="utf-8").read()
    # drop // line comments so quotes inside them do not pair up with code
    src = re.sub(r'^\s*//.*$', "", src, flags=re.MULTILINE)
    for m in LITERAL.finditer(src):
        prefix, triple, plain = m.group(1), m.group(3), m.group(4)
        if triple is not None:
            text = triple
            if src.startswith(".stripMargin", m.end()):
                text = strip_margin(text)
        else:
            text = unescape(plain)
        if prefix:
            if re.search(r"\$[{\w]", text):
                continue
            text = text.replace("$$", "$")
        if SQL_START.match(text):
            yield text


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out = sys.argv[1]
    root = sys.argv[2] if len(sys.argv) > 2 else "."
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/graft/queries/*.scala")))
    files += sorted(glob.glob(os.path.join(root, "src/test/scala/graft/*.scala")))
    seen, corpus = set(), []
    for f in files:
        for t in texts(f):
            if t not in seen:
                seen.add(t)
                corpus.append(t)
    with open(out, "w", encoding="utf-8") as w:
        for t in corpus:
            w.write(t.replace("\\", "\\\\").replace("\n", "\\n") + "\n")
    print(f"{len(corpus)} texts from {len(files)} files -> {out}")


if __name__ == "__main__":
    main()

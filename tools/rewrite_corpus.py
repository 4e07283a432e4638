#!/usr/bin/env python3
"""Build a corpus for `graft.tools.RewriteDiff`.

Usage: python3 tools/rewrite_corpus.py [--templates] <out> [<root>]

Without --templates, the repo corpus: the dialect texts in the sources.
With --templates, the per-template corpus: synthetic calls of every
function name that has a call template in
src/main/scala/graft/sqlfront/ChSql.scala (see `template_names`), each
called with 0 to 3 plain column arguments, and `name(1)(a)` for the names
with a parameterized `name(p)(x)` template.

Repo corpus:

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


# a template site: the function name expression and whether it is the
# parameterized form; both the per-name pass spelling and the table spelling
SITE = re.compile(r'\b(?:rewrite(Param)?Calls\(q, |(param)?[cC]all(?:First)?\()')
# a generator over a literal Seq: `for (n <- Seq(` or `for ((n, t) <- Seq(`
LOOP = re.compile(r'\bfor \((\w+|\(\w+, \w+\)) <- Seq\(')
STRING = re.compile(r'"((?:[^"\\]|\\.)*)"')


def close_paren(src, i):
    """Index of the paren closing the one at src[i], skipping string literals."""
    depth = 0
    while i < len(src):
        if src[i] == '"':
            i = STRING.match(src, i).end()
            continue
        depth += {"(": 1, ")": -1}.get(src[i], 0)
        if depth == 0:
            return i
        i += 1
    raise ValueError("unbalanced paren")


def split_top(text):
    items, depth, last = [], 0, 0
    i = 0
    while i < len(text):
        if text[i] == '"':
            i = STRING.match(text, i).end()
            continue
        if text[i] in "([":
            depth += 1
        elif text[i] in ")]":
            depth -= 1
        elif text[i] == "," and depth == 0:
            items.append(text[last:i])
            last = i + 1
        i += 1
    items.append(text[last:])
    return [t.strip() for t in items if t.strip()]


def eval_name(expr, env):
    """The name a site's expression gives: a literal, a loop variable (its
    tuple's first element for `v._1`), `v + "Suffix"`, or an s-interpolation
    of those."""
    expr = expr.strip()
    if expr.startswith('s"'):
        body = expr[2:-1]
        return re.sub(r'\$\{(\w+)(?:\._1)?\}|\$(\w+)',
                      lambda m: env[m.group(1) or m.group(2)], body)
    m = re.fullmatch(r'"(\w+)"', expr)
    if m:
        return m.group(1)
    m = re.fullmatch(r'(\w+)(?:\._1)?(?: \+ "(\w+)")?', expr)
    if m and m.group(1) in env:
        return env[m.group(1)] + (m.group(2) or "")
    return None


def template_names(root):
    """Every name with a call template, in source order, as
    (name, parameterized) pairs. Names of a loop site come from the
    literal Seq its generator ranges over."""
    src = open(os.path.join(root, "src/main/scala/graft/sqlfront/ChSql.scala"),
               encoding="utf-8").read()
    src = re.sub(r'//[^\n"]*$', "", src, flags=re.MULTILINE)
    found = []
    loops = []  # (body start, body end, [env per item])
    for m in LOOP.finditer(src):
        seq_open = m.end() - 1
        seq_close = close_paren(src, seq_open)
        gen_close = seq_close + 1
        pattern = [v.strip() for v in m.group(1).strip("()").split(",")]
        envs = []
        for item in split_top(src[seq_open + 1:seq_close]):
            lit = STRING.search(item)
            envs.append({pattern[0]: lit.group(1)} if lit else {})
        # the body: a brace block, or the rest of the statement (lines
        # indented deeper than the `for`)
        j = gen_close + 1
        while src[j] in " \n":
            j += 1
        if src[j] == "{":
            depth, k = 0, j
            while True:
                if src[k] == '"':
                    k = STRING.match(src, k).end()
                    continue
                depth += {"{": 1, "}": -1}.get(src[k], 0)
                if depth == 0:
                    break
                k += 1
            end = k
        else:
            indent = m.start() - src.rfind("\n", 0, m.start()) - 1
            end = src.find("\n", gen_close)
            while True:
                nxt = src.find("\n", end + 1)
                line = src[end + 1:nxt if nxt >= 0 else len(src)]
                if line.strip() and len(line) - len(line.lstrip()) > indent:
                    end = nxt if nxt >= 0 else len(src)
                else:
                    break
        loops.append((gen_close, end, envs))
    for m in SITE.finditer(src):
        if src.endswith("def ", 0, m.start()):
            continue
        # the name expression: up to the paren that closes the site's call
        depth, k = 0, m.end()
        while True:
            c = src[k]
            if c == '"':
                k = STRING.match(src, k).end()
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                if depth == 0:
                    break
                depth -= 1
            k += 1
        expr = src[m.end():k]
        param = bool(m.group(1) or m.group(2))
        loop = [lp for lp in loops if lp[0] <= m.start() < lp[1]]
        envs = loop[-1][2] if loop else [{}]
        for env in envs:
            name = eval_name(expr, env)
            if name is None:
                if loop:
                    raise ValueError(f"cannot resolve template name {expr!r}")
                continue  # a name chosen at run time (expandMacros' macros)
            if (name, param) not in found:
                found.append((name, param))
    return found


def template_corpus(root):
    texts = []
    for name, param in template_names(root):
        if param:
            texts.append(f"SELECT {name}(1)(a) FROM t")
        else:
            for args in ("", "a", "a, b", "a, b, c"):
                texts.append(f"SELECT {name}({args}) FROM t")
    return texts


def main():
    args = [a for a in sys.argv[1:] if a != "--templates"]
    if not args:
        sys.exit(__doc__)
    out = args[0]
    root = args[1] if len(args) > 1 else "."
    if "--templates" in sys.argv:
        corpus = template_corpus(root)
        with open(out, "w", encoding="utf-8") as w:
            for t in corpus:
                w.write(t + "\n")
        print(f"{len(corpus)} template texts -> {out}")
        return
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

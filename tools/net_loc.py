#!/usr/bin/env python3
"""Count the code, comment and blank lines a change adds and removes.

    python3 tools/net_loc.py <rev> <path>...

Compares the working tree against <rev> (new files must be tracked, e.g.
staged with `git add`) for the Scala and Python files under each path, and
prints, per language, the lines added and removed in each class plus the
net. Each line is classed in the context of its whole file, so a line
inside a block comment or docstring counts as comment even when the hunk
does not show where the comment opened. A line holding code and a comment
counts as code; a blank line counts as blank wherever it sits.
"""

import re
import subprocess
import sys

LANGS = {".scala": "scala", ".py": "python"}
KINDS = ("code", "comment", "blank")
HUNK = re.compile(r"^@@ -(\d+)(?:,(\d+))? \+(\d+)(?:,(\d+))? @@")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def classify_scala(text):
    """One kind per line; tracks nested block comments and string literals."""
    kinds, depth, in_str = [], 0, None
    for line in text.split("\n"):
        code = comment = False
        i = 0
        while i < len(line):
            if depth:
                comment = True
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
            elif in_str:
                code = True
                if line.startswith(in_str, i):
                    i, in_str = i + len(in_str), None
                elif in_str == '"' and line[i] == "\\":
                    i += 2
                else:
                    i += 1
            elif line.startswith("//", i):
                comment = True
                break
            elif line.startswith("/*", i):
                comment, depth, i = True, 1, i + 2
            elif line.startswith('"""', i):
                code, in_str, i = True, '"""', i + 3
            elif line[i] == '"':
                code, in_str, i = True, '"', i + 1
            else:
                code = code or not line[i].isspace()
                i += 1
        if in_str == '"':
            in_str = None  # an unterminated single-line literal ends here
        kinds.append(kind_of(line, code, comment))
    return kinds


def classify_python(text):
    """One kind per line; a triple-quoted string opening a statement is a docstring."""
    kinds, in_str, doc = [], None, False
    for line in text.split("\n"):
        code = comment = False
        i = 0
        while i < len(line):
            if in_str:
                code, comment = code or not doc, comment or doc
                if line.startswith(in_str, i):
                    i, in_str = i + len(in_str), None
                elif line[i] == "\\":
                    i += 2
                else:
                    i += 1
            elif line[i] == "#":
                comment = True
                break
            elif line.startswith(('"""', "'''"), i):
                doc = not line[:i].strip()
                in_str, i = line[i:i + 3], i + 3
                code, comment = code or not doc, comment or doc
            elif line[i] in "\"'":
                code, in_str, doc = True, line[i], False
                i += 1
            else:
                code = code or not line[i].isspace()
                i += 1
        if in_str in ('"', "'"):
            in_str = None
        kinds.append(kind_of(line, code, comment))
    return kinds


def kind_of(line, code, comment):
    if not line.strip():
        return "blank"
    return "code" if code else ("comment" if comment else "code")


CLASSIFY = {"scala": classify_scala, "python": classify_python}


def old_text(rev, path):
    try:
        return git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return ""


def new_text(path):
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except FileNotFoundError:
        return ""


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    rev, paths = argv[1], argv[2:]
    root = git("rev-parse", "--show-toplevel").strip()
    diff = git("diff", "--no-color", "--no-renames", "-U0", rev, "--", *paths)
    counts = {}
    path = lang = None
    old_kinds = new_kinds = []
    for line in diff.split("\n"):
        if line.startswith("diff --git "):
            path = line.split(" b/", 1)[1]
            ext = path[path.rfind("."):] if "." in path else ""
            lang = LANGS.get(ext)
            if lang:
                full = f"{root}/{path}"
                old_kinds = CLASSIFY[lang](old_text(rev, path))
                new_kinds = CLASSIFY[lang](new_text(full))
            continue
        m = HUNK.match(line)
        if not (m and lang):
            continue
        o0, on = int(m.group(1)), int(m.group(2) or 1)
        n0, nn = int(m.group(3)), int(m.group(4) or 1)
        c = counts.setdefault(lang, {(k, s): 0 for k in KINDS for s in "+-"})
        for j in range(o0, o0 + on):
            c[(old_kinds[j - 1], "-")] += 1
        for j in range(n0, n0 + nn):
            c[(new_kinds[j - 1], "+")] += 1

    print(f"{'lang':8}" + "".join(f"{k + s:>10}" for k in KINDS for s in "+-") +
          f"{'net code':>10}{'net all':>10}")
    total = {(k, s): 0 for k in KINDS for s in "+-"}
    for lang, c in sorted(counts.items()) + [("total", total)]:
        if lang != "total":
            for key, v in c.items():
                total[key] += v
        net_code = c[("code", "+")] - c[("code", "-")]
        net_all = sum(c[(k, "+")] - c[(k, "-")] for k in KINDS)
        print(f"{lang:8}" + "".join(f"{c[(k, s)]:>10}" for k in KINDS for s in "+-") +
              f"{net_code:>+10}{net_all:>+10}")


if __name__ == "__main__":
    main(sys.argv)

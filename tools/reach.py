#!/usr/bin/env python3
"""List the src/main definitions no entry point reaches: python3 tools/reach.py

Roots: the ENTRY files, perfbench/src, src/main/resources (service
registrations), `override` members and JVM serialization hooks. A definition
is a def/val/class/object/trait at brace depth 0 or 1, its body running to
the next one. Names (comments stripped, not qualified) are followed from the
roots to a fixpoint; `via` names the orphans that use an orphan, and `specs`
counts the src/test files that name it."""
import pathlib
import re

ENTRY = {"Main", "Bench", "Verify", "ScalingBench", "SparkEntry"}
CALLBACKS = {"writeObject", "readObject"}
MODS = r"(?:(?:private|protected)(?:\[\w+\])?\s+|(?:final|override|implicit|lazy|sealed|abstract|case)\s+)*"
DEF = re.compile(r"^\s*(" + MODS + r")(?:def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)")
WORD = re.compile(r"[A-Za-z_]\w*")


def strip(text):
    """(text without comments, brace depth at the start of each line)."""
    out, depths, depth, i, n = [], [0], 0, 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            i = text.find("\n", i) if "\n" in text[i:] else n
        elif text.startswith("/*", i):
            nest, i = 1, i + 2
            while i < n and nest:
                if text[i] == "\n":
                    out.append("\n"); depths.append(depth)
                step = text.startswith("/*", i) - text.startswith("*/", i)
                nest, i = nest + step, i + (2 if step else 1)
        elif c == '"':  # strings stay (names in SQL text count) but hide braces
            q = '"""' if text.startswith('"""', i) else '"'
            j = text.find(q, i + len(q))
            while q == '"' and j > 0 and text[j - 1] == "\\" and text[j - 2] != "\\":
                j = text.find(q, j + 1)
            j = n if j < 0 else j + len(q)
            out.append(text[i:j]); depths += [depth] * text.count("\n", i, j); i = j
        elif c == "'" and re.match(r"'(\\.|[^\\'])'", text[i:i + 4]):
            j = text.index("'", i + 2) + 1
            out.append(text[i:j]); i = j
        else:
            depth, i = depth + (c == "{") - (c == "}"), i + 1
            out.append(c); depths += [depth] * (c == "\n")
    return "".join(out), depths


def main():
    root = pathlib.Path(__file__).resolve().parent.parent
    seeds = [strip(p.read_text())[0] for p in (root / "perfbench/src").rglob("*.scala")]
    seeds += [p.read_text() for p in (root / "src/main/resources").rglob("*") if p.is_file()]
    defs = []  # (name, file:line, body lines); name None = a root
    for p in sorted((root / "src/main").rglob("*.scala")):
        code, depths = strip(p.read_text())
        body = []  # the package and import lines reach nothing
        for no, line in enumerate(code.split("\n")):
            m = DEF.match(line) if depths[no] <= 1 else None
            if m:
                root_def = p.stem in ENTRY or "override" in m.group(1) or m.group(2) in CALLBACKS
                body = []
                defs.append((None if root_def else m.group(2), f"{p.relative_to(root)}:{no + 1}", body))
            body.append(line)
    bodies = [(name, where, set(WORD.findall("\n".join(body)))) for name, where, body in defs]
    seeds += ["\n".join(body) for name, _, body in defs if name is None]
    reached, frontier = set(), set(WORD.findall("\n".join(seeds)))
    while frontier:
        reached |= frontier
        frontier = {w for name, _, words in bodies if name in frontier for w in words} - reached
    specs = [set(WORD.findall(strip(p.read_text())[0])) for p in (root / "src/test").rglob("*.scala")]
    orphans = [b for b in bodies if b[0] is not None and b[0] not in reached]
    for name, where, _ in orphans:
        via = sorted({n for n, _, words in orphans if n != name and name in words})
        print(f"{where:60s} {name:30s} specs={sum(name in s for s in specs)}"
              + (f"  via {','.join(via)}" if via else ""))
    print(f"{len(orphans)} unreached definition(s)")


main()

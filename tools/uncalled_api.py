#!/usr/bin/env python3
"""List public defs under src/main/scala that nothing in src/main/scala calls.

A name-level scan: comments and string-literal text are stripped, then
every `def` without a `private`/`protected`/`override` modifier counts as
public, and it counts as called when its name occurs as an identifier in
src/main more often than it is defined there. Overloads share a name, and
any same-named identifier counts as a call, so the scan can miss a dead
def but never reports a called one.

Public defs of the product surface (SURFACE) are entry points and are
not listed. Other kept names go in ALLOWED below, keyed `FileStem.name`,
each with a one-line reason. The scan fails (exit 1) on an unreached
public def that is not allowed, and on an allowed name that is no longer
defined or now has a caller, so the list stays exact.

Usage: python3 tools/uncalled_api.py        (from the repository root)
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")

# The product surface: its public defs are the entry points themselves.
SURFACE = {"Pipeline", "Retriever", "Cli", "RestServer", "api", "SparkEntry"}

ALLOWED = {}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(
    r"^[ \t]*((?:(?:@\w+(?:\([^)\n]*\))?|final|override|implicit|lazy|inline|"
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)[ \t]+)*)def[ \t]+([A-Za-z_][A-Za-z0-9_]*)",
    re.M)


def strip(src):
    """Blank comments and string-literal text, keeping line breaks and the
    `$name` / `${...}` parts of interpolated strings."""
    out = []
    i, n = 0, len(src)

    def blank(s):
        return "".join(c if c == "\n" else " " for c in s)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j]))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(blank(src[i:j]))
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            triple = src.startswith('"""', i)
            quote = '"""' if triple else '"'
            j = i + len(quote)
            body = []
            while j < n and not src.startswith(quote, j):
                if not triple and src[j] == "\\":
                    body.append("  ")
                    j += 2
                elif interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    body.append(" " + strip(src[j + 1:k]))
                    j = k
                elif interp and src[j] == "$" and j + 1 < n and (src[j + 1].isalpha() or src[j + 1] == "_"):
                    m = IDENT.match(src, j + 1)
                    body.append(" " + m.group(0))
                    j = m.end()
                else:
                    body.append("\n" if src[j] == "\n" else " ")
                    j += 1
            if triple:
                while src.startswith('""""', j):  # closing quotes may run longer
                    j += 1
            out.append(quote + "".join(body) + quote)
            i = j + len(quote)
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or (src[i + 1] == "\\" and src.find("'", i + 2) > 0)):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 2) + 1
            out.append("' '")
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scan():
    texts = {}
    for d, _, files in os.walk(MAIN):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    texts[p] = strip(fh.read())
    uses, defs, public = {}, {}, []
    for p, t in texts.items():
        for m in IDENT.finditer(t):
            uses[m.group(0)] = uses.get(m.group(0), 0) + 1
        for m in DEF.finditer(t):
            name = m.group(2)
            defs[name] = defs.get(name, 0) + 1
            mods = m.group(1)
            if "private" in mods or "protected" in mods or "override" in mods or name == "main":
                continue
            stem = os.path.splitext(os.path.basename(p))[0]
            if stem in SURFACE:
                continue
            line = t.count("\n", 0, m.start(2)) + 1
            public.append((f"{stem}.{name}", name, os.path.relpath(p, ROOT), line))
    # every def site is one occurrence of its name ("def" is its own token)
    return [(key, path, line) for key, name, path, line in public if uses[name] <= defs[name]]


def main():
    unreached = scan()
    found = {key for key, _, _ in unreached}
    bad = [(key, path, line) for key, path, line in unreached if key not in ALLOWED]
    stale = sorted(set(ALLOWED) - found)
    for key, path, line in bad:
        print(f"{path}:{line}: {key} is public and nothing in src/main calls it")
    for key in stale:
        print(f"tools/uncalled_api.py: allowed name {key} is no longer defined or now has a caller")
    if bad or stale:
        print(f"uncalled_api: FAIL ({len(bad)} unreached, {len(stale)} stale allowlist entries)")
        sys.exit(1)
    print(f"uncalled_api: PASS ({len(found)} allowed unreached defs)")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Census of the parameters of non-private `def`s in src/main.

For every defaulted parameter it finds the calls that set it, by name or by
position, in src/main, src/test and perfbench/harness/src, and sorts it into
one of three classes: set by engine code (src/main or the perfbench
harness), set only by specs (src/test), or set by no caller.

    python3 tools/param_census.py            # counts per class and per file
    python3 tools/param_census.py --list     # also each parameter and class

The scan is lexical: comments and string literals are blanked (string
interpolations `${...}` are kept, since they hold calls), defs are matched by
`def name[...](...)...`, calls by `name[...](...)...` with their argument lists
paired to the def's parameter lists. Calls to a name defined more than once are
credited to every def of that name, so the scan errs toward "set". A
defaulted parameter whose def name also appears without an argument list
(passed as a function value) is listed with a `ref` mark for a look by hand.
"""
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = [os.path.join(ROOT, "src/main")]
SPECS = [os.path.join(ROOT, "src/test")]
HARNESS = [os.path.join(ROOT, "perfbench/harness/src")]


def scala_files(dirs):
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(base, n)


def strip(src):
    """Blank comments and string literals, keeping `${...}` bodies and line
    breaks, so offsets and line numbers survive."""
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
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append(blank(src[i:j]))
            i = j
        elif c == '"':
            triple = src.startswith('"""', i)
            q = '"""' if triple else '"'
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            out.append(q)
            i += len(q)
            while i < n and not src.startswith(q, i):
                if not triple and src[i] == "\\":
                    out.append("  ")
                    i += 2
                    continue
                if interp and src.startswith("${", i):
                    depth, j = 0, i + 1
                    while j < n:
                        if src[j] == "{":
                            depth += 1
                        elif src[j] == "}":
                            depth -= 1
                            if depth == 0:
                                break
                        j += 1
                    out.append("  " + strip(src[i + 2:j]) + " ")
                    i = j + 1
                    continue
                out.append("\n" if src[i] == "\n" else " ")
                i += 1
            if triple:
                while src.startswith('""""', i):  # closing quotes may run on
                    out.append(" ")
                    i += 1
            out.append(q)
            i += len(q)
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append(blank(src[i:j + 1]))
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


CLOSE = {"(": ")", "[": "]", "{": "}"}


def balanced(s, i):
    """Index just past the bracket group opening at s[i]."""
    stack = [CLOSE[s[i]]]
    j = i + 1
    while j < len(s) and stack:
        c = s[j]
        if c in CLOSE:
            stack.append(CLOSE[c])
        elif stack and c == stack[-1]:
            stack.pop()
        j += 1
    return j


def split_top(s):
    """Top-level comma-separated parts of s, each with its offset in s."""
    parts, depth, start = [], 0, 0
    for k, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append((s[start:k], start))
            start = k + 1
    if s[start:].strip():
        parts.append((s[start:], start))
    return parts


def skip_ws(s, i):
    while i < len(s) and s[i] in " \t\r\n":
        i += 1
    return i


def groups(s, i, with_braces):
    """Consecutive (...) groups (and {...} blocks for calls) from s[i]."""
    out = []
    while True:
        j = skip_ws(s, i)
        if j < len(s) and (s[j] == "(" or (with_braces and s[j] == "{")):
            k = balanced(s, j)
            out.append((s[j], s[j + 1:k - 1], j + 1))
            i = k
        else:
            return out, i


PARAM = re.compile(r"^\s*(?:implicit\s+)?(?:(?:val|var)\s+)?([A-Za-z_]\w*)\s*:(.*)$", re.S)
DEF = re.compile(r"\bdef\s+([A-Za-z_]\w*)")
NAMED = re.compile(r"^\s*([A-Za-z_]\w*)\s*=(?![=>])")


def defs_of(path, text, orig):
    out = []
    for m in DEF.finditer(text):
        line_start = text.rfind("\n", 0, m.start()) + 1
        head = text[line_start:m.start()]
        if re.search(r"\b(private|protected)\b", head) or "override" in head:
            continue
        i = m.end()
        j = skip_ws(text, i)
        if j < len(text) and text[j] == "[":
            i = balanced(text, j)
        lists, _ = groups(text, i, with_braces=False)
        params = []
        for li, (_, body, at) in enumerate(lists):
            for pi, (p, off) in enumerate(split_top(body)):
                pm = PARAM.match(p)
                if not pm:
                    continue
                default = None
                depth = 0
                rest = pm.group(2)
                for k, c in enumerate(rest):
                    if c in "([{":
                        depth += 1
                    elif c in ")]}":
                        depth -= 1
                    elif c == "=" and depth == 0 and rest[k + 1:k + 2] not in (">", "=") \
                            and rest[k - 1:k] not in ("=", "!", "<", ">"):
                        lo = at + off + pm.start(2) + k + 1
                        default = orig[lo:at + off + len(p)].strip()
                        break
                params.append((li, pi, pm.group(1), default))
        line = text.count("\n", 0, m.start()) + 1
        out.append({"name": m.group(1), "file": os.path.relpath(path, ROOT),
                    "line": line, "params": params, "start": m.start()})
    return out


def calls_of(name, text, def_starts):
    """Yield each call's argument groups: [(positional count, named set)]."""
    pat = re.compile(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])")
    refs = 0
    for m in pat.finditer(text):
        before = text[max(0, m.start() - 8):m.start()]
        if re.search(r"\bdef\s+$", before) or m.start() in def_starts:
            continue
        i = skip_ws(text, m.end())
        if i < len(text) and text[i] == "[":
            i = balanced(text, i)
        gs, _ = groups(text, i, with_braces=True)
        if not gs:
            nxt = text[skip_ws(text, m.end()):skip_ws(text, m.end()) + 1]
            prev = text[m.start() - 1:m.start()]
            if prev != "." or nxt not in ("=",):
                refs += 1
            continue
        out = []
        for kind, body, _ in gs:
            if kind == "{":
                out.append((1, set()))
                continue
            args = split_top(body)
            pos, named = 0, set()
            for a, _ in args:
                nm = NAMED.match(a)
                if nm:
                    named.add(nm.group(1))
                elif not named:
                    pos += 1
            out.append((pos, named))
        yield out
    yield ("refs", refs)


def main(argv):
    listing = "--list" in argv
    sources = {}
    for kind, dirs in (("engine", ENGINE), ("spec", SPECS), ("engine", HARNESS)):
        for f in scala_files(dirs):
            orig = open(f, encoding="utf-8").read()
            sources[f] = (kind, strip(orig), orig)

    defs = []
    for f, (_, text, orig) in sources.items():
        if f.startswith(ENGINE[0]):
            defs.extend(defs_of(f, text, orig))
    by_name = defaultdict(list)
    for d in defs:
        by_name[d["name"]].append(d)

    total = sum(len(d["params"]) for d in defs)
    rows = []
    for name, ds in sorted(by_name.items()):
        setters = defaultdict(set)  # (li, pname) -> {"engine", "spec"}
        positional = defaultdict(set)  # (li, pi) -> kinds
        refs = 0
        for f, (kind, text, _) in sources.items():
            starts = {d["start"] for d in ds if os.path.join(ROOT, d["file"]) == f}
            for call in calls_of(name, text, starts):
                if call and call[0] == "refs":
                    refs += call[1]
                    continue
                for li, (pos, named) in enumerate(call):
                    for pi in range(pos):
                        positional[(li, pi)].add(kind)
                    for p in named:
                        setters[(li, p)].add(kind)
        for d in ds:
            for li, pi, pname, default in d["params"]:
                if default is None:
                    continue
                kinds = setters[(li, pname)] | positional[(li, pi)]
                cls = "engine" if "engine" in kinds else "spec" if kinds else "unset"
                rows.append((d["file"], d["line"], name, pname, default, cls, refs))

    counts = defaultdict(int)
    per_file = defaultdict(lambda: defaultdict(int))
    for r in rows:
        counts[r[5]] += 1
        per_file[r[0]][r[5]] += 1
    if listing:
        for f, line, name, pname, default, cls, refs in sorted(rows):
            mark = f" ref x{refs}" if refs else ""
            print(f"{cls:6} {f}:{line} {name}.{pname} = {default[:40]}{mark}")
        print()
    for f in sorted(per_file):
        c = per_file[f]
        print(f"{f}: unset {c['unset']}, spec-only {c['spec']}, engine {c['engine']}")
    print(f"non-private defs {len(defs)}, parameters {total}, defaulted {len(rows)}: "
          f"unset {counts['unset']}, spec-only {counts['spec']}, engine {counts['engine']}")


if __name__ == "__main__":
    main(sys.argv[1:])

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
paired to the def's parameter lists. A call qualified by an object of
src/main (`Ann.topK(`) is credited to that object's def only, and so is an
unqualified call inside an object that defines the name itself (Scala's
scoping: `topK(` inside `Ann` is `Ann.topK`); any other call to a name
defined more than once is credited to every def of that name, so the scan
errs toward "set". A defaulted parameter whose def name
also appears without an argument list (passed as a function value) is listed
with a `ref` mark for a look by hand.

Exits 1 when a defaulted parameter is set by no caller, or only by specs and
is not in ALLOWED below: a value every non-test caller leaves at its default
is a constant, not an option.
"""
import os
import re
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = [os.path.join(ROOT, "src/main")]
SPECS = [os.path.join(ROOT, "src/test")]
HARNESS = [os.path.join(ROOT, "perfbench/harness/src")]

# Defaulted parameters only specs may set, as `Object.def.param`, each with
# the reason it stays a parameter.
ALLOWED = {
    "LinUCBStream.train.emitEveryMs":
        "test seam: 0 emits every micro-batch, so specs need no processing-time wait",
    "LinUCBStream.trainWithBootstrap.emitEveryMs":
        "test seam: 0 emits every micro-batch, so specs need no processing-time wait",
    "AvroSerde.encodeOrdersFramed.schemaId":
        "outside input: a frame written under another id must be rejected on decode",
    "AvroSerde.decodeOrdersFramed.registry":
        "outside input: a frame's id resolves only through a registry that holds it",
}


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


def object_spans(text):
    """(start, end, name) of every `object Name ... { ... }` body."""
    spans = []
    for m in re.finditer(r"\bobject\s+([A-Za-z_]\w*)", text):
        j = text.find("{", m.end())
        if j >= 0:
            spans.append((j, balanced(text, j), m.group(1)))
    return spans


def defs_of(path, text, orig):
    out = []
    spans = object_spans(text)
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
        inner = [s for s in spans if s[0] < m.start() < s[1]]
        obj = max(inner)[2] if inner else None  # the innermost body
        out.append({"name": m.group(1), "file": os.path.relpath(path, ROOT),
                    "line": line, "params": params, "start": m.start(), "obj": obj})
    return out


QUALIFIER = re.compile(r"([A-Za-z_]\w*)\s*\.\s*$")


def calls_of(name, text, def_starts):
    """Yield each call's qualifier (the identifier before `.name`, or None),
    offset and argument groups: (qualifier, offset, [(positional count,
    named set)])."""
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
        q = QUALIFIER.search(text, max(0, m.start() - 80), m.start())
        yield (q.group(1) if q else None, m.start(), out)
    yield ("refs", refs)


def main(argv):
    listing = "--list" in argv
    sources = {}
    for kind, dirs in (("engine", ENGINE), ("spec", SPECS), ("engine", HARNESS)):
        for f in scala_files(dirs):
            orig = open(f, encoding="utf-8").read()
            sources[f] = (kind, strip(orig), orig)

    defs = []
    spans = {f: object_spans(text) for f, (_, text, _) in sources.items()}
    objects = set()  # every object of src/main
    scope = defaultdict(set)  # object -> names it defines, any visibility
    for f, (_, text, orig) in sources.items():
        if f.startswith(ENGINE[0]):
            defs.extend(defs_of(f, text, orig))
            objects |= {s[2] for s in spans[f]}
            for m in DEF.finditer(text):
                inner = [s for s in spans[f] if s[0] < m.start() < s[1]]
                if inner:
                    scope[max(inner)[2]].add(m.group(1))

    def resolve(name, qual, f, at, objs):
        """The objects whose def of `name` a call may reach."""
        if qual is not None:
            return {qual} & objs if qual in objects else objs
        for s in sorted((s for s in spans[f] if s[0] < at < s[1]), reverse=True):
            if name in scope[s[2]]:
                return {s[2]} & objs
        return objs
    by_name = defaultdict(list)
    for d in defs:
        by_name[d["name"]].append(d)

    total = sum(len(d["params"]) for d in defs)
    rows = []
    for name, ds in sorted(by_name.items()):
        objs = {d["obj"] for d in ds}
        # (obj, li, pname) and (obj, li, pi) -> {"engine", "spec"}
        setters = defaultdict(set)
        positional = defaultdict(set)
        refs = 0
        for f, (kind, text, _) in sources.items():
            starts = {d["start"] for d in ds if os.path.join(ROOT, d["file"]) == f}
            for call in calls_of(name, text, starts):
                if call[0] == "refs":
                    refs += call[1]
                    continue
                qual, at, groups_ = call
                for obj in resolve(name, qual, f, at, objs):
                    for li, (pos, named) in enumerate(groups_):
                        for pi in range(pos):
                            positional[(obj, li, pi)].add(kind)
                        for p in named:
                            setters[(obj, li, p)].add(kind)
        for d in ds:
            for li, pi, pname, default in d["params"]:
                if default is None:
                    continue
                kinds = setters[(d["obj"], li, pname)] | positional[(d["obj"], li, pi)]
                cls = "engine" if "engine" in kinds else "spec" if kinds else "unset"
                rows.append((d["file"], d["line"], f"{d['obj']}.{name}", pname,
                             default, cls, refs))

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
    bad = [r for r in rows if r[5] == "unset" or
           (r[5] == "spec" and f"{r[2]}.{r[3]}" not in ALLOWED)]
    for f, line, name, pname, _, cls, _ in bad:
        print(f"FAIL {f}:{line} {name}.{pname} is set by "
              f"{'no caller' if cls == 'unset' else 'specs only'}", file=sys.stderr)
    stale = set(ALLOWED) - {f"{r[2]}.{r[3]}" for r in rows if r[5] == "spec"}
    for key in sorted(stale):
        print(f"FAIL allowlisted {key} is no longer a spec-only default", file=sys.stderr)
    return 1 if bad or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

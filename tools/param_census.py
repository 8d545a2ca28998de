#!/usr/bin/env python3
"""Census of the non-private `def`s in src/main: who calls each, and who sets
each defaulted parameter.

Callers are the code in src/main, src/test and perfbench/harness/src; src/main
and the perfbench harness count as engine, src/test as specs.

Parameter pass: every defaulted parameter of a non-private or
package-private (`private[pkg]`) def is sorted into one of three classes by
the calls that pass it, by name or by position: set by engine code, set only
by specs, or set by no caller. A package-private def is engine surface to
every caller in its package, specs included, so a default only specs turn
there is the same knob as on a public def.

Def pass: every non-private member def (a def local to another def's body is
not one) is sorted by its uses, with or without an argument list, outside its
own body: used by engine code, used only by specs, or used by nothing. A
`main` counts as engine (it is run by name).

    python3 tools/param_census.py            # counts per class and per file
    python3 tools/param_census.py --list     # also each parameter, and each
                                             # spec-only or uncalled def

The scan is lexical: comments and string literals are blanked (string
interpolations `${...}` are kept, since they hold calls), defs are matched by
`def name[...](...)...`, calls by `name[...](...)...` with their argument lists
paired to the def's parameter lists. A call qualified by an object of
src/main (`Ann.topK(`), or named in an import selector from one
(`import graft.functions.{seededUniform => su}`), is credited to that
object's def only, and so is an unqualified call inside an object that
defines the name itself (Scala's scoping: `topK(` inside `Ann` is `Ann.topK`);
a use qualified by any other capitalized name (`Character.charCount`) is a
JVM class member and credits no def; a use qualified by a lowercase name (a
variable: `store.read(`, `delegate.open(`) credits only the class and trait
members of that name; any other call to a name defined more than once is
credited to every def of that name, so the scan errs toward "set" and
"used". A defaulted parameter whose def name also appears without
an argument list (passed as a function value) is listed with a `ref` mark
for a look by hand.

Exits 1 when
  - a defaulted parameter is set by no caller, or only by specs and is not
    in ALLOWED: a value every non-test caller leaves at its default is a
    constant, not an option;
  - a def is used only by specs or by nothing and is not in
    SURFACE_ALLOWED: engine surface that no query, layer, stream or
    benchmark runs is deleted, or kept for one of the reasons that table
    names;
  - an entry of either table no longer matches;
  - a doc block in src/main is followed directly by another (`*/`, only
    whitespace, `/**`): Scaladoc attaches only the second, so the first
    documents nothing;
  - a run of ORACLE_RUN or more lines of the DuckDB oracle section of
    SparkEntry.scala (from its `// Shared SQL fragments` line to the end),
    compared verbatim after trimming and on the raw text (string literals
    kept), repeats a run earlier in the section: a definition the oracles
    share is stated once, as a fragment they interpolate;
  - src/main reads parquet without a schema: a `.read` chain that reaches
    `.parquet(` (or `.format("parquet")` and `.load(`) with no `.schema(`
    in it. Spark infers such a schema with a whole job per read; the engine
    reads through `Tables.parquet`, which takes it from one footer on the
    driver;
  - src/main builds a session outside the `GraftSession` object (a
    `SparkSession.builder` or `new SparkSession.Builder(`): every engine
    session carries the factory's shared configs, among them the one
    executor class loader that lets a fresh session reuse compiled code;
  - the layer registry and the layer store disagree: a layer name passed
    to `Layers.frame`/`Layers.value` in src/main is not a key of
    `SparkEntry.layers`, a key names no store build, or a store name is
    not a string literal. A def that passes one of its own parameters as
    the name (`Ann.encodedLayer`) is a store call too, and its callers'
    literal at that position is the name. The bench builds and times
    every registered layer apart from the queries, so a build outside
    the registry is charged to whichever query runs first.
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

# Non-private defs only specs call (or nothing in this repo calls), as
# `Object.def`, each with the rule that keeps it:
#   (a) the engine form of a reference pipeline behaviour (SURVEY.md cites
#       the reference file);
#   (b) a spec reference: the named spec compares an engine path against it;
#   (c) a test seam: it takes the planted frame the engine form reads from
#       a lake;
#   (d) the library facade, called from outside this repo.
SURFACE_ALLOWED = {
    "Sources.csvOrders":
        "(a) S1/S17 CSV scan: header skip, malformed lines dropped "
        "(cdc-local/src/utils.py:113-119, FileSourceFactory.kt:30-107)",
    "AvroSerde.encodeOrdersFramed":
        "(a) S9 Avro producer in the registry wire format (ProducerApp.kt:32-76)",
    "SupplierStatsStream.parseAvroFramedOrders":
        "(a) S12 Avro consumer feeding the stats stream (Connectors.kt:18-42)",
    "SupplierStatsStream.forkBatch":
        "(a) T6 late side output beside the stats sink (LateRecordProcessor.kt:24-79)",
    "LinUCBStream.trainWithBootstrap":
        "(a) S18/T13 bootstrap-then-live training (ParameterUpdateJob.kt:30-61)",
    "LinUCBServeStream.serve":
        "(a) J5/S20 per-request scoring against the live model store "
        "(bandit_manager.py:109-132)",
    "DashboardStream.revenueBySegment":
        "(a) the polled dashboard's join + revenue by segment, maintained "
        "incrementally (product-demos/producer/api.py:35-63)",
    "Cdc.lineitemEnvelope":
        "(a) S5 second captured table with delete rewrite "
        "(cdc-local application.properties:22-26)",
    "Features.textEmbeddingQuery":
        "(a) F14 TF-IDF+SVD embedding values (preprocessor.py:88-104); "
        "q35 checks only their envelope",
    "Features.textEmbeddingHashed":
        "(a) F14 TF-IDF+SVD embedding values over the hashed vocabulary "
        "(preprocessor.py:88-104); q77 checks only their envelope",
    "Dedup.embeddingPairs":
        "(b) DedupSpec 'bucketed embedding pairs: subset of exact, recall floor, "
        "no cartesian in plan' compares q23's embeddingPairsBucketed against it",
    "PolicyEval.aucPerPolicyApprox":
        "(b) PolicyAndStoreSpec 'wide-input bucketed AUC ≡ melted-input bucketed "
        "AUC on the shared scores' compares q41's aucPerPolicyApproxWide against it",
    "ZOrder.interleave":
        "(b) PipelineOpsSpec 'native zorder2 matches the declarative fold on the "
        "full grid' compares q92's zorder2 against it",
    "LinUCB.scoreTSPre":
        "(b) ExprParitySpec 'native policy scoring == the Scala helpers, "
        "bit-for-bit' compares q41's lints_score against it",
    "TextOps.lmScoreFrom":
        "(c) lmScore over a planted corpus with degenerate documents",
    "Dedup.stripDupSpansFrom":
        "(c) stripDupSpans over a planted corpus",
    "Graft.open":
        "(d) facade: register the lake's tables and the SQL functions on a session",
    "Graft.query":
        "(d) facade: run an inventory query by name on an opened session",
    "SparkEntry.entry":
        "(d) facade: the flagship query an outside caller runs as a smoke check",
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


TEMPLATE = re.compile(r"\b(object|class|trait)\s+[A-Za-z_]\w*[^{};]*$")


def owner_kinds(text):
    """(start, end, kind) of every brace body; kind is `object`, `class` or
    `trait` for a template body (its header, back to the previous brace or
    `;`, declares one), else None."""
    out, stack = [], []
    for k, c in enumerate(text):
        if c == "{":
            stack.append(k)
        elif c == "}" and stack:
            j = stack.pop()
            lo = max(text.rfind(ch, 0, j) for ch in "{};") + 1
            m = TEMPLATE.search(text, lo, j)
            out.append((j, k + 1, m.group(1) if m else None))
    return out


PKG = re.compile(r"\bprivate\s*\[\s*\w+\s*\]")


def defs_of(path, text, orig):
    """Every non-private and package-private def; `pkg` marks the latter."""
    out = []
    spans = object_spans(text)
    bodies = owner_kinds(text)
    for m in DEF.finditer(text):
        line_start = text.rfind("\n", 0, m.start()) + 1
        head = text[line_start:m.start()]
        pkg = bool(PKG.search(head))
        if (re.search(r"\b(private|protected)\b", head) and not pkg) or "override" in head:
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
        owner = [b for b in bodies if b[0] < m.start() < b[1]]
        member = bool(owner) and max(owner)[2] in ("class", "trait")
        out.append({"name": m.group(1), "file": os.path.relpath(path, ROOT),
                    "line": line, "params": params, "start": m.start(), "obj": obj,
                    "member": member, "pkg": pkg})
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


def body_end(text, start):
    """Offset just past the def starting at `start`: the first later
    non-blank line indented less than the def, or as much and not opening
    with a closing bracket."""
    ls = text.rfind("\n", 0, start) + 1
    indent = len(text[ls:start]) - len(text[ls:start].lstrip())
    j = text.find("\n", start)
    while j >= 0:
        nxt = text.find("\n", j + 1)
        line = text[j + 1:nxt if nxt >= 0 else len(text)]
        body = line.lstrip()
        depth = len(line) - len(body)
        if body and (depth < indent or (depth == indent and body[0] not in ")}")):
            return j + 1
        j = nxt
    return len(text)


IMPORT = re.compile(r"\s*import\s+(?:[\w.]+\.)?(\w+)\s*\.\s*\{[^}]*$")


def uses_of(name, text):
    """(qualifier or None, offset) of every use of `name` in text, with or
    without an argument list, other than its own `def`. A name in an import
    selector (`import a.B.{name => n}`) is qualified by the object imported
    from."""
    pat = re.compile(r"(?<![\w$])" + re.escape(name) + r"(?![\w$])")
    for m in pat.finditer(text):
        if re.search(r"\bdef\s+$", text[max(0, m.start() - 8):m.start()]):
            continue
        imp = IMPORT.match(text, text.rfind("\n", 0, m.start()) + 1, m.start())
        q = imp or QUALIFIER.search(text, max(0, m.start() - 80), m.start())
        yield (q.group(1) if q else None), m.start()


ORPHAN_DOC = re.compile(r"\*/\s*/\*\*")

ORACLE_FILE = os.path.join(ROOT, "src/main/scala/graft/SparkEntry.scala")
ORACLE_MARK = "// Shared SQL fragments"
# Runs shorter than this are mostly one-line SQL closers (`FROM t)`,
# `WHERE rank <= 5`) that a fragment would not make clearer.
ORACLE_RUN = 8


# `spark.read` as a value: not `store.read(...)` and not `readStream`
READ = re.compile(r"\.\s*read\b(?!\s*[\w(\[])")
CHAINED = re.compile(r"\s*\.\s*(\w+)")


def bare_parquet_reads(text, orig):
    """Line numbers of the `.read` chains in `text` (stripped; `orig` keeps
    the string literals at the same offsets) that read parquet with no
    `.schema(...)`."""
    for m in READ.finditer(text):
        names, fmt, i = [], False, m.end()
        while (c := CHAINED.match(text, i)):
            args, i = groups(text, c.end(), False)
            names.append(c.group(1))
            fmt |= c.group(1) == "format" and any(
                "parquet" in orig[at:at + len(body)] for _, body, at in args)
        if ("parquet" in names or (fmt and "load" in names)) and "schema" not in names:
            yield text.count("\n", 0, m.start()) + 1


# a session builder, as a call or a constructor (not the `Builder` type)
BUILDER = re.compile(r"\bSparkSession\s*\.\s*(?:builder\b|Builder\s*\()")
FACTORY = "GraftSession"


STORE = re.compile(r"\bLayers\s*\.\s*(frame|value)\s*\(")
LITERAL = re.compile(r'^"(\w+)"$')
IDENT = re.compile(r"^[A-Za-z_]\w*$")


def enclosing_params(text, at):
    """Name and first-list parameter names of the innermost def around
    offset `at`, or (None, [])."""
    best = None
    for m in DEF.finditer(text, 0, at):
        if body_end(text, m.start()) > at:
            best = m
    if best is None:
        return None, []
    i = skip_ws(text, best.end())
    if i < len(text) and text[i] == "[":
        i = balanced(text, i)
    lists, _ = groups(text, i, with_braces=False)
    names = [PARAM.match(p).group(1) for p, _ in split_top(lists[0][1])
             if PARAM.match(p)] if lists else []
    return best.group(1), names


def store_names(files):
    """Every literal layer name the engine passes to the store, as
    (name, file, line), and the (file, line) of each name that is not a
    literal. `files` maps a path to its (stripped, original) text."""
    found, unreadable = [], []
    todo = [(STORE, 1)]
    seen = set()
    while todo:
        pat, idx = todo.pop()
        for f, (text, orig) in files.items():
            for m in pat.finditer(text):
                if re.search(r"\bdef\s+$", text[max(0, m.start() - 8):m.start()]):
                    continue
                j = m.end()  # just past the call's `(`
                args = split_top(text[j:balanced(text, j - 1) - 1])
                line = text.count("\n", 0, m.start()) + 1
                arg = ""
                if len(args) > idx:
                    part, off = args[idx]
                    arg = orig[j + off:j + off + len(part)].strip()
                lit = LITERAL.match(arg)
                if lit:
                    found.append((lit.group(1), f, line))
                    continue
                owner, params = enclosing_params(text, m.start())
                if IDENT.match(arg) and arg in params:
                    if owner not in seen:
                        seen.add(owner)
                        todo.append((re.compile(r"(?<![\w$])" + owner + r"\s*\("),
                                     params.index(arg)))
                else:
                    unreadable.append((f, line))
    return found, unreadable


def registry_keys(text, orig):
    """The literal keys of `SparkEntry.layers`, with their line numbers."""
    j = text.find("Map(", text.find("def layers")) + 3
    return [(m.group(1), orig.count("\n", 0, j + m.start()) + 1)
            for m in re.finditer(r'^\s*"(\w+)"\s*->', orig[j:balanced(text, j)], re.M)]


def oracle_repeats(text):
    """Maximal runs of equal trimmed lines in the oracle section, as
    (length, first line of the earlier run, first line of the later run),
    and the number of section lines that repeat an earlier run of three or
    more lines."""
    lines = text.split("\n")
    start = next((k for k, l in enumerate(lines) if ORACLE_MARK in l), len(lines))
    sec = [l.strip() for l in lines[start:]]
    at = defaultdict(list)
    runs, repeated = [], set()
    for j, t in enumerate(sec):
        for i in at[t]:
            if i > 0 and sec[i - 1] == sec[j - 1]:
                continue  # not maximal: the run starts earlier
            k = 0
            while j + k < len(sec) and sec[i + k] == sec[j + k]:
                k += 1
            if k >= 3:
                repeated.update(range(j, j + k))
            if k >= ORACLE_RUN:
                runs.append((k, start + i + 1, start + j + 1))
        at[t].append(j)
    return runs, len(repeated)


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

    def resolve(name, qual, f, at, objs, members):
        """The objects whose def of `name` a call may reach; `members` are
        those whose def of it is a class or trait member."""
        if qual is not None:
            if qual in objects:
                return {qual} & objs
            if qual[0].isupper():
                return set()  # a JVM class member: `Character.charCount`
            return members & objs  # through a variable: `store.read`
        for s in sorted((s for s in spans[f] if s[0] < at < s[1]), reverse=True):
            if name in scope[s[2]]:
                return {s[2]} & objs
        return objs
    by_name = defaultdict(list)
    for d in defs:
        by_name[d["name"]].append(d)

    public = [d for d in defs if not d["pkg"]]
    total = sum(len(d["params"]) for d in public)
    pkg_total = sum(len(d["params"]) for d in defs if d["pkg"])
    rows = []
    for name, ds in sorted(by_name.items()):
        objs = {d["obj"] for d in ds}
        members = {d["obj"] for d in ds if d["member"]}
        # (obj, li, pname) and (obj, li, pi) -> {"engine", "spec"}
        setters = defaultdict(set)
        positional = defaultdict(set)
        refs = 0
        for f, (kind, text, _) in sources.items():
            if name not in text:
                continue
            starts = {d["start"] for d in ds if os.path.join(ROOT, d["file"]) == f}
            for call in calls_of(name, text, starts):
                if call[0] == "refs":
                    refs += call[1]
                    continue
                qual, at, groups_ = call
                for obj in resolve(name, qual, f, at, objs, members):
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
    print(f"non-private defs {len(public)}, parameters {total}; package-private defs "
          f"{len(defs) - len(public)}, parameters {pkg_total}; defaulted {len(rows)}: "
          f"unset {counts['unset']}, spec-only {counts['spec']}, engine {counts['engine']}")
    bad = [r for r in rows if r[5] == "unset" or
           (r[5] == "spec" and f"{r[2]}.{r[3]}" not in ALLOWED)]
    for f, line, name, pname, _, cls, _ in bad:
        print(f"FAIL {f}:{line} {name}.{pname} is set by "
              f"{'no caller' if cls == 'unset' else 'specs only'}", file=sys.stderr)
    stale = set(ALLOWED) - {f"{r[2]}.{r[3]}" for r in rows if r[5] == "spec"}
    for key in sorted(stale):
        print(f"FAIL allowlisted {key} is no longer a spec-only default", file=sys.stderr)
    failed = bool(bad or stale)

    # def pass: who uses each non-private member def (a `main` is run by
    # name); a def local to another def's body is no member
    used = {}  # "Object.def" -> {"engine", "spec"}
    where = {}
    bodies = defaultdict(list)  # file -> (start, end) of every def, any visibility
    for f, (_, text, _) in sources.items():
        if f.startswith(ENGINE[0]):
            bodies[os.path.relpath(f, ROOT)] = [(m.start(), body_end(text, m.start()))
                                                for m in DEF.finditer(text)]
    for d in public:
        if any(s < d["start"] < e for s, e in bodies[d["file"]]):
            continue
        key = f"{d['obj']}.{d['name']}"
        where.setdefault(key, (d["file"], d["line"]))
        used.setdefault(key, set())
        path = os.path.join(ROOT, d["file"])
        own = next(b for b in bodies[d["file"]] if b[0] == d["start"])
        for f, (kind, text, _) in sources.items():
            if d["name"] not in text:
                continue
            for qual, at in uses_of(d["name"], text):
                if f == path and own[0] <= at < own[1]:
                    continue
                if d["obj"] in resolve(d["name"], qual, f, at, {d["obj"]},
                                       {d["obj"]} if d["member"] else set()):
                    used[key].add(kind)
    surface = {k: "engine" if "engine" in v or k.endswith(".main") else
               "spec" if v else "uncalled" for k, v in used.items()}
    tally = defaultdict(int)
    for cls in surface.values():
        tally[cls] += 1
    if listing:
        for key in sorted(surface, key=lambda k: where[k]):
            if surface[key] != "engine":
                f, line = where[key]
                tag = SURFACE_ALLOWED.get(key, "")[:3]
                print(f"{surface[key]:8} {f}:{line} {key} {tag}".rstrip())
        print()
    print(f"non-private defs by caller: engine {tally['engine']}, "
          f"spec-only {tally['spec']}, uncalled {tally['uncalled']} "
          f"({len(SURFACE_ALLOWED)} allowlisted)")
    for key in sorted(surface, key=lambda k: where[k]):
        if surface[key] != "engine" and key not in SURFACE_ALLOWED:
            f, line = where[key]
            print(f"FAIL {f}:{line} {key} is called by "
                  f"{'specs only' if surface[key] == 'spec' else 'nothing'}", file=sys.stderr)
            failed = True
    for key in sorted(SURFACE_ALLOWED):
        if surface.get(key, "engine") == "engine":
            print(f"FAIL allowlisted {key} is no longer a spec-only or uncalled def",
                  file=sys.stderr)
            failed = True

    # a doc block directly followed by another documents nothing
    for f, (_, _, orig) in sorted(sources.items()):
        if f.startswith(ENGINE[0]):
            for m in ORPHAN_DOC.finditer(orig):
                line = orig.count("\n", 0, m.start()) + 1
                print(f"FAIL {os.path.relpath(f, ROOT)}:{line} doc block followed by "
                      f"another doc block", file=sys.stderr)
                failed = True

    # parquet pass: an engine read states its schema, so it starts no
    # inference job
    for f, (_, text, orig) in sorted(sources.items()):
        if f.startswith(ENGINE[0]):
            for line in bare_parquet_reads(text, orig):
                print(f"FAIL {os.path.relpath(f, ROOT)}:{line} reads parquet without a "
                      f"schema; read through Tables.parquet", file=sys.stderr)
                failed = True

    # session pass: every engine session comes from the one factory
    for f, (_, text, _) in sorted(sources.items()):
        if f.startswith(ENGINE[0]):
            for m in BUILDER.finditer(text):
                inner = [s for s in spans[f] if s[0] < m.start() < s[1]]
                if not inner or max(inner)[2] != FACTORY:
                    line = text.count("\n", 0, m.start()) + 1
                    print(f"FAIL {os.path.relpath(f, ROOT)}:{line} builds a session outside "
                          f"{FACTORY}; start from {FACTORY}.builder", file=sys.stderr)
                    failed = True

    # layer pass: the registry and the store name the same set
    engine = {f: (text, orig) for f, (_, text, orig) in sources.items()
              if f.startswith(ENGINE[0])}
    found, unreadable = store_names(engine)
    stored = {n for n, _, _ in found}
    keys = registry_keys(*engine[ORACLE_FILE])
    keyset = {k for k, _ in keys}
    rel = os.path.relpath(ORACLE_FILE, ROOT)
    print(f"layers: {len(keys)} registry keys, {len(stored)} store names "
          f"({len(found)} literal store calls)")
    for n, f, line in sorted(found, key=lambda r: (r[1], r[2])):
        if n not in keyset:
            print(f"FAIL {os.path.relpath(f, ROOT)}:{line} stores layer {n}, which is not "
                  f"a SparkEntry.layers key", file=sys.stderr)
            failed = True
    for k, line in keys:
        if k not in stored:
            print(f"FAIL {rel}:{line} SparkEntry.layers key {k} names no store build",
                  file=sys.stderr)
            failed = True
    for f, line in unreadable:
        print(f"FAIL {os.path.relpath(f, ROOT)}:{line} passes the store a layer name that "
              f"is not a string literal", file=sys.stderr)
        failed = True

    # oracle pass: each shared oracle definition is written once
    runs, repeated = oracle_repeats(open(ORACLE_FILE, encoding="utf-8").read())
    print(f"oracle section: {repeated} lines repeat an earlier run of 3+, "
          f"{len(runs)} runs of {ORACLE_RUN}+")
    rel = os.path.relpath(ORACLE_FILE, ROOT)
    for k, first, again in runs:
        print(f"FAIL {rel}:{again} repeats {k} lines of {rel}:{first}", file=sys.stderr)
        failed = True
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Dead-surface check for the operator packages.

Lists every member of `graft.operators`, `graft.streaming`,
`graft.sources` and `graft.functions` that no root reaches, as
`file:line name`, and exits 1 when one of them is not on ALLOW below.

Roots: the query surface (`Queries`, `SparkEntry`), the harness mains
(`Bench`, `Verify`, `ScaleUp`, `graft.tools`), `Sessions`, `Artifacts`,
`graft.plans` and the benchmark sources under `perfbench/src`. Tests are
not roots: a member only its own spec calls is dead surface.

Reachability follows references transitively over the Scala sources,
with comments removed and string literals dropped except for what they
interpolate (`${esc(l)}` in generated SQL is a reference to `esc`).
Names resolve the way Scala scopes them, approximately:
  * `Q.name`, where `Q` is an object, class or trait of the repo (or an
    import alias of one), reaches that template's member `name`;
  * `x.name` on any other value reaches every class or trait member
    called `name` (the receiver's type is not known);
  * a bare `name` reaches the member of the nearest enclosing template
    that defines it, members brought in by `import X._` or
    `import X.{name}`, and any top-level template called `name`; names
    bound locally in the same member (parameters, local vals, lambda and
    pattern binders) shadow them.
A reached member reaches its enclosing template; a reached template
reaches its header and constructor code, its `apply`/`unapply`, its
implicit members, each `override` whose overridden member lives outside
the repo or is reached itself, and every member when it extends a type
from outside the repo (the framework calls those).

Usage: python3 tools/reachable.py [repo-root]
"""
import os
import re
import sys

PACKAGES = ("operators", "streaming", "sources", "functions")
ROOT_FILES = ("Queries.scala", "SparkEntry.scala", "Bench.scala", "Verify.scala",
              "ScaleUp.scala", "Sessions.scala", "Artifacts.scala")
ROOT_DIRS = ("tools", "plans")

# Members no root reaches that stay on purpose, one reason each. Keys are
# the dotted name the report prints (file-level template, then members).
ALLOW = {
    # Oracles and assertion hooks that tests use to check live code.
    "TextFunctions.hashedShinglesHof":
        "HOF twin TextFunctionsSpec pins the native hashed_shingles expression against",
    "TextFunctions.portableStringHashHof":
        "HOF twin TextFunctionsSpec pins the native polyStringHash expression against",
    "TextFunctions.portableTokenHashesHof":
        "HOF twin TextFunctionsSpec pins the native PolyTokenHashes expression against",
    "TextFunctions.shingles":
        "distinct word shingles, the brute-force oracle NearDupSpec checks jaccardPairs with",
    "VectorFunctions.cosine":
        "composed cosine, the oracle VectorExpressionsSpec pins the native cosine against",
    "MinHashDedup.verifiedPairsPlan":
        "exposes the verify plan NearDupSpec checks the live pair producers against",
    "ManifestTable.listFiles":
        "snapshot file list ManifestTableSpec uses to check that merge carries untouched files by reference",
    "Sinks.listVersions":
        "retained versions, which SinksSpec uses to check swapIntoVersioned's retention window",
    "Scale.planHasExchange":
        "plan assertion hook ScaleSpec uses to check the live skew-aware joins",
    "Layout.fileRanges":
        "per-file min/max that LayoutSpec and HilbertSpec use to check the z-order and Hilbert writers",
    "Layout.dataFiles":
        "file listing LayoutSpec and HilbertSpec use to check the z-order and Hilbert writers",
    "Layout.writeClustered":
        "plain sort-clustered writer, the baseline LayoutSpec and HilbertSpec compare the curve writers with",
    "Scd2.currentOf":
        "current-row view CdcSpec and Scd2PropertiesSpec compare the live SCD2 merge against",
    "Stateful.userSessions":
        "streaming sessionizer, the oracle for the live userSessionsBatchSorted",
    "Stateful.userSessionsBatch":
        "batch sessionizer, the oracle for the live userSessionsBatchSorted",
    "UnigramLm.seedVocab":
        "drives the emRound tests in UnigramLmSpec",
    "UnigramLm.segment":
        "drives the emRound tests in UnigramLmSpec",
    # The reference's load surface (SURVEY.md section 1).
    "Sinks.appendInto":
        "the reference's append load path",
    "Sinks.upsertInto":
        "the reference's MERGE load path",
    "Streams.upsertStream":
        "the streaming surface of the daily MERGE; it is to get a query path, not be deleted",
    "JdbcSink.appendInto":
        "the reference's Postgres append load path",
    "JdbcSink.mergeInto":
        "the Postgres MERGE of the reference (queries.py:35-48)",
    "Merge.upsertBatch":
        "the batch half of the Postgres MERGE that JdbcSink runs",
    # External input and the table format's space reclamation.
    "Paginated.HttpPageFetcher":
        "the only fetcher of real external input",
    "ManifestTable.vacuum":
        "the table format's only space reclamation",
    "ManifestTable.compact":
        "the table format's only compaction; its MERGE and delete paths tell callers to run it",
    "DurableCheckpoint":
        "the durable IterCheckpoint that survives executor loss; GraphSpec checks it",
}

KEYWORDS = {
    "abstract", "case", "catch", "class", "def", "do", "else", "extends", "false",
    "final", "finally", "for", "forSome", "if", "implicit", "import", "lazy",
    "match", "new", "null", "object", "override", "package", "private",
    "protected", "return", "sealed", "super", "this", "throw", "trait", "try",
    "true", "type", "val", "var", "while", "with", "yield", "_",
}
DECL = {"def", "val", "var", "object", "class", "trait", "type"}
TEMPLATE = {"object", "class", "trait"}
MODS = {"override", "final", "implicit", "lazy", "sealed", "abstract", "case",
        "private", "protected"}
NEUTRAL_PARENTS = {"Serializable", "Product", "AnyRef", "Any", "Equals"}
WITH_TEMPLATE = {"apply", "unapply", "unapplySeq", "main"}
OPCHARS = set("!#%&*+-/:<=>?@\\^|~")
ID_START = re.compile(r"[A-Za-z_$]")
ID_REST = re.compile(r"[A-Za-z0-9_$]*")
INTERP_ID = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class Tok:
    __slots__ = ("kind", "text", "line")

    def __init__(self, kind, text, line):
        self.kind, self.text, self.line = kind, text, line

    def __repr__(self):
        return "%s:%r@%d" % (self.kind, self.text, self.line)


def tokenize(src):
    """Identifiers, punctuation and operators of one file. Comments and
    string contents are dropped; an interpolated string contributes the
    tokens of what it interpolates."""
    out = []
    n = len(src)

    def skip_block(p, ln):
        depth = 0
        while p < n:
            if src.startswith("/*", p):
                depth += 1
                p += 2
            elif src.startswith("*/", p):
                depth -= 1
                p += 2
                if depth == 0:
                    return p, ln
            else:
                if src[p] == "\n":
                    ln += 1
                p += 1
        return p, ln

    def string(p, ln, interp):
        # p points at the opening quote(s)
        triple = src.startswith('"""', p)
        p += 3 if triple else 1
        while p < n:
            c = src[p]
            if triple and src.startswith('"""', p):
                p += 3
                while p < n and src[p] == '"':
                    p += 1
                return p, ln
            if not triple and c == '"':
                return p + 1, ln
            if c == "\n":
                ln += 1
            if not triple and c == "\\":
                p += 2
                continue
            if interp and c == "$":
                if src.startswith("$$", p):
                    p += 2
                    continue
                if src.startswith("${", p):
                    p, ln = code(p + 2, ln, True)
                    continue
                m = INTERP_ID.match(src, p + 1)
                if m:
                    out.append(Tok("id", m.group(0), ln))
                    p = m.end()
                    continue
            p += 1
        return p, ln

    def code(p, ln, until_brace):
        depth = 0
        while p < n:
            c = src[p]
            if c == "\n":
                ln += 1
                p += 1
            elif c in " \t\r\f":
                p += 1
            elif src.startswith("//", p):
                e = src.find("\n", p)
                p = n if e < 0 else e
            elif src.startswith("/*", p):
                p, ln = skip_block(p, ln)
            elif c == '"':
                p, ln = string(p, ln, False)
            elif c == "`":
                e = src.index("`", p + 1)
                out.append(Tok("id", src[p + 1:e], ln))
                p = e + 1
            elif c == "'":
                if src.startswith("'\\", p):
                    e = src.find("'", p + 2)
                    p = e + 1
                elif p + 2 < n and src[p + 2] == "'":
                    p += 3
                else:
                    p += 1  # symbol literal: the name after it is harmless
            elif ID_START.match(c):
                m = ID_REST.match(src, p + 1)
                word = src[p:m.end()]
                p = m.end()
                if p < n and src[p] == '"':
                    p, ln = string(p, ln, True)
                else:
                    out.append(Tok("id", word, ln))
            elif c.isdigit():
                m = re.compile(r"[0-9a-fA-FxXlLdDfF_.eE]*").match(src, p)
                p = max(m.end(), p + 1)
            elif c in "{}()[],;.":
                if c == "{":
                    depth += 1
                elif c == "}":
                    if until_brace and depth == 0:
                        return p + 1, ln
                    depth -= 1
                out.append(Tok("p", c, ln))
                p += 1
            elif c in OPCHARS:
                e = p
                while e < n and src[e] in OPCHARS:
                    e += 1
                out.append(Tok("op", src[p:e], ln))
                p = e
            else:
                p += 1
        return p, ln

    code(0, 1, False)
    return out


OPEN, CLOSE = "([{", ")]}"


def match_close(toks, i):
    depth = 0
    for k in range(i, len(toks)):
        t = toks[k]
        if t.kind == "p" and t.text in OPEN:
            depth += 1
        elif t.kind == "p" and t.text in CLOSE:
            depth -= 1
            if depth == 0:
                return k
    return len(toks) - 1


class Node:
    def __init__(self, name, kind, parent, path, line, mods, qualified):
        self.name, self.kind, self.parent = name, kind, parent
        self.path, self.line, self.mods = path, line, mods
        self.qualified = qualified  # private[x]: visible beyond its template
        self.children = {}
        self.own = []          # token indices that belong to this node only
        self.parents = []      # extends/with names (templates)
        self.decl = -1         # token index of the declared name
        self.root = False

    @property
    def dotted(self):
        names, n = [], self
        while n is not None and n.kind != "file":
            names.append(n.name)
            n = n.parent
        return ".".join(reversed(names))

    @property
    def private(self):
        return ("private" in self.mods or "protected" in self.mods) and not self.qualified


class Unit:
    def __init__(self, path, toks):
        self.path, self.toks = path, toks
        self.wild = []        # names of templates imported with X._
        self.alias = {}       # local name -> (template name, member name)


def modifiers(toks, j):
    mods, qualified, k = set(), False, j - 1
    while k >= 0:
        t = toks[k]
        if t.kind == "id" and t.text in MODS:
            mods.add(t.text)
            k -= 1
        elif t.text == "]" and k >= 3 and toks[k - 2].text == "[" and \
                toks[k - 3].text in ("private", "protected"):
            mods.add(toks[k - 3].text)
            qualified = True
            k -= 4
        else:
            break
    return mods, qualified


def parse_body(unit, lo, hi, parent, nodes):
    toks = unit.toks
    decls, depth = [], 0
    for j in range(lo, hi):
        t = toks[j]
        if t.kind == "p" and t.text in OPEN:
            depth += 1
        elif t.kind == "p" and t.text in CLOSE:
            depth -= 1
        elif depth == 0 and t.kind == "id" and t.text in DECL and \
                not (j > 0 and toks[j - 1].text == ".") and \
                not (j > 0 and toks[j - 1].text == "package"):
            decls.append(j)
    parent.own.extend(range(lo, decls[0] if decls else hi))
    for n_i, j in enumerate(decls):
        end = decls[n_i + 1] if n_i + 1 < len(decls) else hi
        kw = toks[j].text
        name_tok = toks[j + 1] if j + 1 < hi else None
        mods, qualified = modifiers(toks, j)
        if name_tok is None or name_tok.kind != "id" or name_tok.text in KEYWORDS:
            parent.own.extend(range(j, end))  # pattern val: runs with its template
            continue
        kind = kw if kw in TEMPLATE else "member"
        node = Node(name_tok.text, kind, parent, unit.path, name_tok.line, mods, qualified)
        node.decl = j + 1
        nodes.append(node)
        parent.children.setdefault(node.name, []).append(node)
        if kind != "member":
            body = None
            d = 0
            for k in range(j + 2, end):
                tx = toks[k]
                if tx.kind == "p" and tx.text == "{" and d == 0:
                    body = k
                    break
                if tx.kind == "p" and tx.text in OPEN:
                    d += 1
                elif tx.kind == "p" and tx.text in CLOSE:
                    d -= 1
            header_end = body if body is not None else end
            node.parents = template_parents(toks, j + 2, header_end)
            node.own.extend(range(j, header_end))
            if body is not None:
                close = match_close(toks, body)
                parse_body(unit, body + 1, close, node, nodes)
                # statements after the body run with the enclosing template
                parent.own.extend(range(close + 1, end))
        else:
            node.own.extend(range(j, end))


def template_parents(toks, lo, hi):
    names, depth, take = [], 0, False
    last = None
    for k in range(lo, hi):
        t = toks[k]
        if t.kind == "p" and t.text in OPEN:
            if depth == 0 and take and last:
                names.append(last)
                take, last = False, None
            depth += 1
        elif t.kind == "p" and t.text in CLOSE:
            depth -= 1
        elif depth == 0 and t.text in ("extends", "with"):
            if take and last:
                names.append(last)
            take, last = True, None
        elif depth == 0 and take and t.kind == "id":
            last = t.text
    if take and last:
        names.append(last)
    return names


def parse_imports(unit):
    toks = unit.toks
    for i, t in enumerate(toks):
        if t.text != "import":
            continue
        path, k = [], i + 1
        while k < len(toks) and toks[k].kind == "id":
            path.append(toks[k].text)
            if k + 1 < len(toks) and toks[k + 1].text == ".":
                k += 2
            else:
                break
        if not path:
            continue
        if path[-1] == "_":
            if len(path) > 1:
                unit.wild.append(path[-2])
        elif k < len(toks) and toks[k].text == "{":
            close = match_close(toks, k)
            sel = toks[k + 1:close]
            q = path[-1]
            s = 0
            while s < len(sel):
                a = sel[s].text
                if s + 2 < len(sel) and sel[s + 1].text == "=>":
                    unit.alias[sel[s + 2].text] = (q, a)
                    s += 3
                else:
                    if a == "_":
                        unit.wild.append(q)
                    elif sel[s].kind == "id":
                        unit.alias[a] = (q, a)
                    s += 1
        else:
            if len(path) > 1:
                unit.alias[path[-1]] = (path[-2], path[-1])


def local_binders(toks, idx):
    """Names a member binds itself: parameters, local vals/defs, lambda
    and for binders, lowercase pattern variables."""
    bound = set()
    s = set(idx)
    for k in idx:
        t = toks[k]
        if t.kind != "id" or t.text in KEYWORDS:
            continue
        nxt = toks[k + 1] if k + 1 < len(toks) else None
        prv = toks[k - 1] if k > 0 else None
        if nxt is not None and nxt.kind == "op" and nxt.text in (":", "=>", "<-"):
            if not (nxt.text == ":" and toks[k + 2].text == "_"):  # `xs: _*`
                bound.add(t.text)
        elif prv is not None and prv.text in ("val", "var", "def") and k - 1 in s \
                and k - 1 != idx[0]:
            bound.add(t.text)
        elif nxt is not None and nxt.text in (",", ")") and prv is not None and \
                prv.text in ("(", ","):
            # (a, b) => ... : look for the arrow after the closing paren
            j, depth = k, 0
            while j < len(toks):
                x = toks[j]
                if x.text == "(":
                    depth += 1
                elif x.text == ")":
                    if depth == 0:
                        break
                    depth -= 1
                j += 1
            if j + 1 < len(toks) and toks[j + 1].text in ("=>", "<-"):
                bound.add(t.text)
    # case patterns: lowercase identifiers between `case` and `=>`
    in_case = False
    for k in idx:
        t = toks[k]
        if t.text == "case" and not (k + 1 < len(toks) and toks[k + 1].text in TEMPLATE):
            in_case = True
        elif in_case and t.text == "=>":
            in_case = False
        elif in_case and t.kind == "id" and t.text[:1].islower() and \
                t.text not in KEYWORDS and toks[k - 1].text != "." and \
                toks[k + 1].text not in ("(", "."):
            bound.add(t.text)
    return bound


def build(repo):
    units, nodes = [], []
    main = os.path.join(repo, "src", "main", "scala")
    bench = os.path.join(repo, "perfbench", "src")
    for base in (main, bench):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        u = Unit(os.path.relpath(p, repo), tokenize(fh.read()))
                    parse_imports(u)
                    units.append(u)
    for u in units:
        u.node = Node(u.path, "file", None, u.path, 1, set(), False)
        parse_body(u, 0, len(u.toks), u.node, nodes)
        parts = u.path.split(os.sep)
        is_root = u.path.startswith("perfbench") or \
            (len(parts) == 5 and parts[4] in ROOT_FILES) or \
            (len(parts) == 6 and parts[4] in ROOT_DIRS)
        u.reported = len(parts) == 6 and parts[4] in PACKAGES
        for n in nodes:
            if n.path == u.path:
                n.unit = u
                n.root = is_root
    return units, nodes


def analyse(units, nodes):
    templates = {}
    for n in nodes:
        if n.kind in TEMPLATE:
            templates.setdefault(n.name, []).append(n)
    top = {n.name for n in nodes if n.kind in TEMPLATE and n.parent.kind == "file"}
    packages = {"graft", "perfbench", "operators", "streaming", "sources",
                "functions", "plans", "tools", "pipeline", "org", "apache", "spark"}

    def members(tnodes, name, seen=None):
        seen = seen or set()
        out = []
        for t in tnodes:
            if id(t) in seen:
                continue
            seen.add(id(t))
            out.extend(t.children.get(name, ()))
            for p in t.parents:
                out.extend(members(templates.get(p, ()), name, seen))
        return out

    # members a call on a value of unknown type may dispatch to
    instance = {}
    for n in nodes:
        if n.parent.kind in ("class", "trait") or (n.parent.kind == "object" and n.parent.parents):
            instance.setdefault(n.name, []).append(n)

    def qualifier(u, q):
        if q in u.alias:
            q = u.alias[q][1]
        return templates.get(q)

    refs = {}
    for n in nodes:
        u = n.unit
        toks = u.toks
        own = sorted(set(n.own))
        bound = local_binders(toks, own) if own else set()
        out, calls = set(), set()
        for k in own:
            t = toks[k]
            if t.kind != "id" or t.text in KEYWORDS or k == n.decl:
                continue
            prv = toks[k - 1] if k > 0 else None
            if prv is not None and prv.text == ".":
                q = toks[k - 2] if k > 1 else None
                if q is not None and q.kind == "id" and q.text not in ("this", "super"):
                    if q.text in packages:
                        out.update(id(x) for x in templates.get(t.text, ())
                                   if x.parent.kind == "file")
                        continue
                    tq = qualifier(u, q.text)
                    if tq:
                        out.update(id(x) for x in members(tq, t.text))
                        continue
                if q is None or q.kind != "id" or q.text not in ("this", "super"):
                    calls.update(id(x) for x in instance.get(t.text, ()))
                    continue
            name = t.text
            if name in bound:
                continue
            scope = n if n.kind in TEMPLATE else n.parent
            while scope is not None:
                hit = members([scope], name) if scope.kind != "file" else \
                    scope.children.get(name, [])
                if hit:
                    out.update(id(x) for x in hit)
                    break
                scope = scope.parent
            for w in u.wild:
                out.update(id(x) for x in members(templates.get(w, ()), name))
            if name in u.alias:
                q, m = u.alias[name]
                if q in templates:
                    out.update(id(x) for x in members(templates[q], m))
                out.update(id(x) for x in templates.get(m, ()) if x.parent.kind == "file")
            if name in top:
                out.update(id(x) for x in templates[name] if x.parent.kind == "file")
        out.discard(id(n))
        refs[id(n)] = (out, calls)
    return templates, refs


def reach(nodes, templates, refs, extra=()):
    """Ids of the nodes the roots (and `extra`) reach. A call on a value
    of unknown type reaches a member only once its template is reached;
    a member that implements or overrides one of a repo parent's members
    is reached once that parent member is."""
    by_id = {id(n): n for n in nodes}
    live, called = set(), set()
    work = [id(n) for n in nodes if n.root] + [id(n) for n in extra]

    def external(t):
        return any(p not in templates and p not in NEUTRAL_PARENTS for p in t.parents)

    def overridden(m):
        seen, stack, hits = set(), list(m.parent.parents), []
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            for pt in templates.get(p, ()):
                hits.extend(pt.children.get(m.name, ()))
                stack.extend(pt.parents)
        return hits

    pending = []  # (member, the parent members it implements)
    while True:
        while work:
            i = work.pop()
            if i in live:
                continue
            live.add(i)
            n = by_id[i]
            direct, calls = refs[i]
            work.extend(direct)
            for c in calls:
                called.add(c)
                if id(by_id[c].parent) in live:
                    work.append(c)
            if n.parent.kind != "file":
                work.append(id(n.parent))
            if n.kind in TEMPLATE:
                ext = external(n)
                for kids in n.children.values():
                    for c in kids:
                        over = overridden(c)
                        if id(c) in called or c.name in WITH_TEMPLATE or "implicit" in c.mods:
                            work.append(id(c))
                        elif over:
                            pending.append((c, over))
                        elif ext or "override" in c.mods:
                            work.append(id(c))
        grew = False
        for c, over in pending:
            if id(c) not in live and any(id(o) in live for o in over):
                work.append(id(c))
                grew = True
        if not grew:
            return live


def main(argv):
    repo = argv[1] if len(argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    units, nodes = build(repo)
    templates, refs = analyse(units, nodes)
    live = reach(nodes, templates, refs)

    def dead(live_set):
        out = []
        for n in nodes:
            if not n.unit.reported or id(n) in live_set:
                continue
            if n.parent.kind != "file" and id(n.parent) not in live_set:
                continue  # its template is reported instead
            if n.private:
                continue
            out.append(n)
        return out

    unreached = dead(live)
    names = {n.dotted for n in nodes if n.unit.reported}
    allowed = [n for n in nodes if n.unit.reported and n.dotted in ALLOW]
    kept = reach(nodes, templates, refs, extra=allowed)
    bad = dead(kept)
    missing = sorted(k for k in ALLOW if k not in names)
    stale = sorted(n.dotted for n in allowed if id(n) in live)

    for n in sorted(unreached, key=lambda n: (n.path, n.line)):
        if n.dotted in ALLOW:
            tag = "  [allowed: %s]" % ALLOW[n.dotted]
        elif id(n) in kept:
            tag = "  [used by an allowed member]"
        else:
            tag = ""
        print("%s:%d %s%s" % (n.path, n.line, n.dotted, tag))
    for k in missing:
        print("ALLOW names no member: %s" % k)
    for k in stale:
        print("ALLOW entry is reachable from a root, drop it: %s" % k)
    print("%d unreachable, %d allowed, %d not allowed, %d stale allow entries"
          % (len(unreached), len(unreached) - len(bad), len(bad), len(missing) + len(stale)))
    return 1 if bad or missing or stale else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

#!/usr/bin/env python3
"""Reachability census over the engine's Scala sources.

Computes the transitive closure of name references over src/main from
three roots: `SparkEntry.queries`, every `main` under src/main, and the
benchmark harness (benchmark/src). Prints each public member (def, val,
object, class, trait, type) of src/main that no root reaches, and says
whether src/test references it ("test-only") or nothing does
("nowhere"). Reads source text only: no build, no Spark.

    python3 dev/reachability.py [repo_root]

Exit status 0 when every unreached member is on the allow-list below,
1 otherwise. `CensusSpec` runs it, so unreached code cannot grow back
unnoticed.

The closure is name-based and errs towards "reached":
  - `X.y`, with X a container (object, class or trait) of src/main,
    reaches the members y of the containers named X;
  - a bare `y` reaches the containers named y and the members y of the
    referencing file's containers and of the containers it imports;
  - `e.y` on any other qualifier reaches every class or trait member y;
  - a string literal naming `graft.<...>.X` reaches container X (class
    names handed to Spark confs and child JVMs).
A reached member reaches its container; a reached container reaches its
`override`, `implicit`, `apply` and `unapply` members (the framework,
not our code, calls those by name) and the references in its header and
template statements.
"""
import os
import re
import sys

# Members kept although no root reaches them, each with its reason: the
# reference pipeline's mirrors (with their SURVEY.md rows), and the one
# life-cycle hook whose specs drive reached queries.
ALLOWED = {
    "Ioops.requireNonEmpty":
        "SURVEY §2.1 S6: fail-fast input validation (plays.py:67-72, players.py:51-58)",
    "Ioops.weeklyFile":
        "SURVEY §2.1 S4: templated {week:02d} paths (settings.py:57-58,125-176)",
    "Ioops.collectStats":
        "SURVEY §11: one-pass table stats sink, kept with the reference mirrors",
    "Exprs.firstDownLine":
        "SURVEY §2.11/§10: LOS and first-down math with left flip (play.py:194-203)",
    "Teams.byAbbr":
        "SURVEY §2.11/§10: team metadata lookup (core/teams.py:43-76)",
    "NonCompletionModel.permutationImportance":
        "SURVEY §2.9 K7: permutation feature importance (train.py:61-97)",
    "Tables.invalidate":
        "SURVEY §13: the in-place regeneration contract; five specs drive reached queries through it",
}

# The roots besides every `main`: the query map the Verify, Bench and
# census mains run, and the flagship query SparkEntry serves on its own.
ROOTS = {"SparkEntry.queries", "SparkEntry.entry"}

DEF_KW = {"def", "val", "var", "object", "class", "trait", "type"}
CONTAINER_KW = {"object", "class", "trait"}
MODIFIERS = {"private", "protected", "override", "implicit", "final", "lazy",
             "case", "sealed", "abstract"}
IDENT = re.compile(r"[A-Za-z_$][A-Za-z0-9_$]*")
OP_CHARS = set("!#%&*+-/:<=>?@\\^|~")
QUALIFIED_CLASS = re.compile(r"\bgraft(?:\.[A-Za-z_][A-Za-z0-9_]*)+")


class Tok:
    __slots__ = ("kind", "text", "line")

    def __init__(self, kind, text, line):
        self.kind, self.text, self.line = kind, text, line


def _skip_string(src, i):
    """Index just past the plain string literal starting at src[i]."""
    if src.startswith('"""', i):
        j = src.find('"""', i + 3)
        j = len(src) if j < 0 else j + 3
        while j < len(src) and src[j] == '"':
            j += 1
        return j
    j = i + 1
    while j < len(src) and src[j] != '"':
        j += 2 if src[j] == "\\" else 1
    return j + 1


def _matching_brace(src, i):
    """Index of the `}` closing the `{` at src[i], skipping strings."""
    depth, j = 0, i
    while j < len(src):
        c = src[j]
        if c == '"':
            j = _skip_string(src, j)
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return j
        j += 1
    return len(src) - 1


def tokenize(src, line=1):
    """Identifiers and punctuation; comments dropped, string contents
    dropped except interpolated code and qualified graft class names."""
    toks, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if c == "\n":
            line += 1
            i += 1
        elif c.isspace():
            i += 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            line += src.count("\n", i, j)
            i = j
        elif c == '"' or (IDENT.match(src, i) and
                          src.startswith('"', IDENT.match(src, i).end())):
            interp = c != '"'
            start = IDENT.match(src, i).end() if interp else i
            end = _skip_string(src, start)
            body = src[start:end]
            for m in QUALIFIED_CLASS.finditer(body):
                toks.append(Tok("str", m.group(0), line))
            if interp:
                k = 0
                while k < len(body):
                    if body[k] == "$" and k + 1 < len(body):
                        if body[k + 1] == "{":
                            close = _matching_brace(body, k + 1)
                            toks.extend(tokenize(body[k + 2:close],
                                                 line + body.count("\n", 0, k)))
                            k = close + 1
                            continue
                        m = IDENT.match(body, k + 1)
                        if m and body[k + 1] != "$":
                            toks.append(Tok("id", m.group(0).rstrip("$"), line))
                            k = m.end()
                            continue
                        k += 2
                        continue
                    k += 1
            line += body.count("\n")
            i = end
        elif c == "'":
            # char literal ('a', '\n', 'A'); a lone quote otherwise
            m = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'])'").match(src, i)
            i = m.end() if m else i + 1
        elif c == "`":
            j = src.find("`", i + 1)
            toks.append(Tok("id", src[i + 1:j], line))
            i = j + 1
        elif IDENT.match(src, i):
            m = IDENT.match(src, i)
            toks.append(Tok("id", m.group(0), line))
            i = m.end()
        elif c.isdigit():
            m = re.compile(r"[0-9][0-9a-zA-Z_.]*").match(src, i)
            i = m.end()
        elif c in OP_CHARS:
            j = i
            while j < n and src[j] in OP_CHARS:
                j += 1
            toks.append(Tok("op", src[i:j], line))
            i = j
        else:
            toks.append(Tok("p", c, line))
            i += 1
    return toks


class Node:
    """One definition of a template (object, class or trait body) or of
    the file's top level."""

    def __init__(self, kind, name, container, path, line, mods):
        self.kind, self.name, self.container = kind, name, container
        self.path, self.line, self.mods = path, line, mods
        self.extends = False  # a container with a supertype
        self.refs = []  # (qualifier or None, name, is_selection)

    @property
    def qname(self):
        return f"{self.container.name}.{self.name}" if self.container else self.name

    @property
    def is_container(self):
        return self.kind in CONTAINER_KW

    @property
    def public(self):
        return not (self.mods & {"private", "protected"})


def _modifiers(toks, k):
    """Modifiers written before the keyword at toks[k]."""
    mods, j = set(), k - 1
    while j >= 0:
        t = toks[j].text
        if t in MODIFIERS:
            mods.add(t)
            j -= 1
        elif t == "]":  # private[pkg]
            while j >= 0 and toks[j].text != "[":
                j -= 1
            j -= 1
        else:
            break
    return mods


class SourceFile:
    def __init__(self, path, src):
        self.path = path
        self.toks = tokenize(src)
        self.nodes = []
        self.imports = set()  # names of imported containers / members
        self.own = []  # references outside any node (imports, package)

    def parse(self):
        toks = self.toks
        # scope stack entries: [kind ('template' | 'block'), container node,
        # paren depth at this level]
        scopes = [["template", None, 0]]
        current = None  # node whose body the tokens belong to
        owner = []      # per template scope: the node the scope's tokens feed
        pending = None  # container waiting for its `{`
        k = 0
        while k < len(toks):
            t = toks[k]
            scope = scopes[-1]
            if t.text == "import" and scope[0] == "template" and scope[2] == 0:
                j, braces = k + 1, 0
                while j < len(toks) and (toks[j].line == t.line or braces):
                    braces += {"{": 1, "}": -1}.get(toks[j].text, 0)
                    if toks[j].kind == "id":
                        self.imports.add(toks[j].text)
                    j += 1
                k = j
                continue
            if t.text == "extends" and pending is not None:
                pending.extends = True
            if t.text in ("(", "["):
                scope[2] += 1
            elif t.text in (")", "]"):
                scope[2] -= 1
            elif t.text == "{":
                if pending is not None and scope[2] == 0:
                    scopes.append(["template", pending, 0])
                    owner.append(current)
                    current = pending
                    pending = None
                else:
                    scopes.append(["block", None, 0])
            elif t.text == "}":
                closed = scopes.pop()
                if closed[0] == "template":
                    current = owner.pop()
            elif (t.kind == "id" and t.text in DEF_KW and scope[0] == "template"
                  and scope[2] == 0 and k + 1 < len(toks)):
                name_tok = toks[k + 1]
                if name_tok.text in ("val", "class", "object"):  # lazy val, case class
                    k += 1
                    continue
                if name_tok.kind in ("id", "op"):
                    node = Node(t.text, name_tok.text, scope[1], self.path,
                                t.line, _modifiers(toks, k))
                    self.nodes.append(node)
                    current = node
                    pending = node if t.text in CONTAINER_KW else None
                    k += 2
                    continue
                pending = None
            if t.kind in ("id", "op", "str"):
                ref = self._ref(toks, k)
                if ref:
                    (current.refs if current else self.own).append(ref)
            k += 1

    @staticmethod
    def _ref(toks, k):
        t = toks[k]
        if t.kind == "str":
            return ("__class__", t.text.split(".")[-1], False)
        if t.kind != "id" or t.text in DEF_KW | MODIFIERS:
            return None
        if k >= 2 and toks[k - 1].text == "." and toks[k - 2].kind == "id":
            return (toks[k - 2].text, t.text, True)
        if k >= 1 and toks[k - 1].text == ".":
            return (None, t.text, True)
        return (None, t.text, False)


def load(root, sub):
    files = []
    base = os.path.join(root, sub)
    for d, _, names in os.walk(base):
        for f in sorted(names):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    sf = SourceFile(os.path.relpath(p, root), fh.read())
                sf.parse()
                files.append(sf)
    return files


def census(root):
    main = load(root, "src/main")
    nodes = [n for f in main for n in f.nodes]
    file_of = {id(n): f for f in main for n in f.nodes}
    by_name, containers = {}, {}
    for n in nodes:
        by_name.setdefault(n.name, []).append(n)
        if n.is_container:
            containers.setdefault(n.name, []).append(n)
    members = {}
    for n in nodes:
        if n.container is not None:
            members.setdefault(id(n.container), []).append(n)

    def resolve(ref, sf):
        qual, name, selection = ref
        if qual == "__class__":
            return containers.get(name, [])
        if qual is not None and qual in containers:
            return [m for c in containers[qual] for m in members.get(id(c), [])
                    if m.name == name]
        if selection:
            return [m for m in by_name.get(name, []) if m.container is not None
                    and (m.container.kind != "object" or m.container.extends)]
        local = {id(c) for c in (containers.get(i, []) for i in sf.imports)
                 for c in c} | {id(n) for n in sf.nodes if n.is_container}
        hits = list(containers.get(name, []))
        hits += [m for m in by_name.get(name, [])
                 if m.container is not None and id(m.container) in local]
        if name in sf.imports:
            hits += by_name.get(name, [])
        return hits

    def closure(seeds, reached):
        """Grow `reached` (node ids) from `seeds`; returns what was added."""
        added, work = [], list(seeds)
        while work:
            n = work.pop()
            if id(n) in reached:
                continue
            reached.add(id(n))
            added.append(n)
            for ref in n.refs:
                work.extend(resolve(ref, file_of[id(n)]))
            if n.container is not None:
                work.append(n.container)
            if n.is_container:
                work.extend(m for m in members.get(id(n), [])
                            if m.mods & {"override", "implicit"}
                            or m.name in ("apply", "unapply"))
        return added

    seeds = [n for n in nodes if n.name == "main" or n.qname in ROOTS]
    for sf in load(root, "benchmark/src"):
        for ref in sf.own + [r for n in sf.nodes for r in n.refs]:
            seeds.extend(resolve(ref, sf))
    reached = set()
    closure(seeds, reached)

    # an allowed member keeps what it uses
    kept_by = {}
    for n in nodes:
        if n.qname in ALLOWED and id(n) not in reached:
            for m in closure([n], set(reached)):
                kept_by.setdefault(id(m), n.qname)

    test_names = set()
    for sf in load(root, "src/test"):
        for _, name, _ in sf.own + [r for n in sf.nodes for r in n.refs]:
            test_names.add(name)
        test_names |= sf.imports

    unreached = [n for n in nodes if id(n) not in reached and n.public
                 and (n.container is None or id(n.container) in reached
                      or id(n.container) in kept_by)]
    return unreached, kept_by, test_names


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    unreached, kept_by, test_names = census(root)
    bad = 0
    for n in sorted(unreached, key=lambda n: (n.path, n.line)):
        where = "test-only" if n.name in test_names else "nowhere"
        reason = ALLOWED.get(n.qname) or (
            f"used by {kept_by[id(n)]}" if id(n) in kept_by else None)
        if reason:
            print(f"allowed\t{n.kind} {n.qname}\t{n.path}:{n.line}\t{where}\t{reason}")
        else:
            bad += 1
            print(f"UNREACHED\t{n.kind} {n.qname}\t{n.path}:{n.line}\t{where}")
    print(f"census: {len(unreached)} unreached public member(s), "
          f"{bad} outside the allow-list")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

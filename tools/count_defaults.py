#!/usr/bin/env python3
"""Count the default parameters of the main code, and those that every main
caller sets the same way.

A default parameter is a `name: Type = value` parameter of a `def` or of a
class constructor in `src/main/scala`. Its main callers are the call sites
in `src/main/scala` and `perfbench/src/main/scala` that a name scan finds:
`Obj.name(...)` resolves to the `name` of object or class `Obj`, a bare
`name(...)` to the `name` of its own file, or to the only `name` in main if
its file has none. A call site sets the parameter to the argument it passes
there (by position or by name), or to the default when it passes none. An
argument that only forwards a parameter of the caller (a bare identifier
that is the parameter's own name or a parameter of the enclosing def) sets
nothing and is not counted. The parameter is "set one way" when the counted
call sites set it to one value only, and none of them passes a value read
at run time (a local, or a member of one). It has "no counted caller" when
no call site counts.

Usage: python3 tools/count_defaults.py [ROOT] [--list]
  ROOT defaults to the current directory; --list prints each default.
"""
import hashlib
import os
import re
import sys
from collections import defaultdict

MAIN_DIRS = ("src/main/scala",)
CALLER_DIRS = ("src/main/scala", "perfbench/src/main/scala")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
OPEN = {"(": ")", "[": "]", "{": "}"}


def scrub(text):
    """Comments removed; each string or char literal replaced by a token
    that keeps its identity but holds no bracket, comma or quote."""
    out, i, n = [], 0, len(text)

    def lit(body):
        return "S" + hashlib.md5(body.encode()).hexdigest()[:10]

    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(" " + "\n" * text.count("\n", i, j))
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            out.append(lit(text[i:j]) + "\n" * text.count("\n", i, j))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"':
                j += 2 if text[j] == "\\" else 1
            out.append(lit(text[i:j + 1]))
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|[^'\\])'", text[i:i + 4]):
            m = re.match(r"'(\\.|[^'\\])'", text[i:i + 4])
            out.append(lit(m.group(0)))
            i += len(m.group(0))
        else:
            out.append(c)
            i += 1
    return "".join(out)


def match_close(s, i):
    """Index just past the bracket group that opens at s[i]."""
    stack = [OPEN[s[i]]]
    j = i + 1
    while j < len(s) and stack:
        c = s[j]
        if c in OPEN:
            stack.append(OPEN[c])
        elif c in ")]}":
            stack.pop()
        j += 1
    return j


def split_top(s):
    """`s` split at its top-level commas."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in OPEN:
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def top_assign(s):
    """Index of the first top-level `=` that is an assignment, or -1."""
    depth = 0
    for i, c in enumerate(s):
        if c in OPEN:
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            nxt = s[i + 1] if i + 1 < len(s) else ""
            prv = s[i - 1] if i else ""
            if nxt not in "=>" and prv not in "<>!=:":
                return i
    return -1


def norm(v):
    return re.sub(r"\s+", " ", v).strip()


PATH = re.compile(r"[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)*")
KEYWORDS = {"true", "false", "None", "Nil", "null", "new"}


def computed(v):
    """True when a passed value reads run-time data: it names a local or a
    member of one (a path with no capitalised segment) rather than only
    literals and constants of objects."""
    return any(p not in KEYWORDS and not re.search(r"(^|\.)\s*[A-Z]", p)
               for p in PATH.findall(v) if not re.fullmatch(r"S[0-9a-f]{10}", p)
               and not re.fullmatch(r"\d\w*", p))


def arg_lists(s, i):
    """The bracket groups (argument lists) that follow position i."""
    groups = []
    while True:
        j = i
        while j < len(s) and s[j] in " \t\n":
            j += 1
        if j < len(s) and s[j] == "[" and not groups:
            i = match_close(s, j)
            continue
        if j < len(s) and s[j] in "({" and (s[j] == "(" or groups):
            end = match_close(s, j)
            groups.append((s[j], s[j + 1:end - 1]))
            i = end
        else:
            return groups, i


class Param:
    def __init__(self, owner, name, default, where):
        self.owner, self.name, self.default, self.where = owner, name, default, where
        self.values = defaultdict(list)
        self.computed = False


class Decl:
    def __init__(self, kind, obj, name, lists, path, start, line):
        self.kind, self.obj, self.name, self.lists = kind, obj, name, lists
        self.path, self.start, self.line = path, start, line


def parse_params(body):
    out = []
    for p in split_top(body):
        p = re.sub(r"^((implicit|override|private(\[\w+\])?|protected|final|"
                   r"val|var|@\w+)\s+)*", "", p.strip())
        m = IDENT.match(p)
        if m:
            k = top_assign(p)
            out.append((m.group(0), norm(p[k + 1:]) if k >= 0 else None))
    return out


OWNER = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_]\w*)")
DECL = re.compile(r"\b(def|class)\s+([A-Za-z_]\w*)")
ALIAS = re.compile(r"\b([A-Za-z_]\w*)\s*=>\s*([A-Za-z_]\w*)")


def owner_at(text, pos):
    """The innermost object/class/trait whose body holds pos."""
    best = None
    for m in OWNER.finditer(text, 0, pos):
        b = text.find("{", m.end())
        if 0 <= b < pos and match_close(text, b) > pos:
            best = m.group(1)
    return best


def load(root):
    files = {}
    for d in CALLER_DIRS:
        for base, _, names in os.walk(os.path.join(root, d)):
            for f in names:
                if f.endswith(".scala"):
                    p = os.path.join(base, f)
                    files[os.path.relpath(p, root)] = scrub(open(p).read())
    return files


def declarations(path, text):
    out = []
    for m in DECL.finditer(text):
        kind, name = m.groups()
        lists, _ = arg_lists(text, m.end())
        lists = [parse_params(b) for br, b in lists if br == "("]
        obj = name if kind == "class" else owner_at(text, m.start())
        out.append(Decl(kind, obj, name, lists, path, m.start(),
                        text.count("\n", 0, m.start()) + 1))
    return out


def aliases(text):
    """`import a.{Obj => A}` and `val A = a.Obj` renames, as (position,
    A, Obj); the last one before a call site is the one in scope."""
    out = [(m.start(), m.group(1), m.group(2)) for m in re.finditer(
        r"\bval\s+([A-Z]\w*)\s*=\s*(?:[a-z]\w*\.)+([A-Z]\w*)\s*\n", text)]
    for imp in re.finditer(r"\bimport\s+[\w.]+\.\{([^}]*)\}", text):
        for m in ALIAS.finditer(imp.group(1)):
            out.append((imp.start(), m.group(2), m.group(1)))
    return sorted(out)


def resolve(renames, name, pos):
    return next((o for p, a, o in reversed(renames) if p < pos and a == name),
                name)


def bind(args, ps):
    """Argument text by parameter name, for one argument list."""
    given, pos, names = {}, 0, {p for p, _ in ps}
    for a in args:
        k = top_assign(a)
        key = a[:k].strip() if k >= 0 else None
        if key and IDENT.fullmatch(key):
            if key in names:
                given[key] = norm(a[k + 1:])
        elif pos < len(ps):
            given[ps[pos][0]] = norm(a)
            pos += 1
    return given


def main(argv):
    root = next((a for a in argv if not a.startswith("--")), ".")
    files = load(root)
    decls = {p: declarations(p, t) for p, t in files.items()}
    by_name = defaultdict(list)
    params = {}
    for path, ds in decls.items():
        if not path.startswith(MAIN_DIRS):
            continue
        for d in ds:
            by_name[d.name].append(d)
            for li, ps in enumerate(d.lists):
                for pname, default in ps:
                    if default is not None:
                        params[(id(d), li, pname)] = Param(
                            d, pname, default, f"{d.path}:{d.line}")
    owners = {id(p.owner) for p in params.values()}
    names = {n for n, ds in by_name.items() if any(id(d) in owners for d in ds)}
    call = re.compile(r"(?:\b([A-Za-z_]\w*)\s*\.\s*)?\b(" +
                      "|".join(sorted(map(re.escape, names | {"copy"}))) +
                      r")\b")
    for path, text in files.items():
        renamed = aliases(text)
        defs = [d for d in decls[path] if d.kind == "def"]
        for m in call.finditer(text):
            qual, name = m.groups()
            qual = resolve(renamed, qual, m.start())
            if re.search(r"\b(def|class|object|trait)\s+$",
                         text[max(0, m.start() - 8):m.start()]):
                continue
            groups, _ = arg_lists(text, m.end())
            args = [split_top(b) for _, b in groups]
            if not args:
                continue
            copy = name == "copy"
            if copy:
                # a case class's own copy(...) sets what it names
                host = owner_at(text, m.start())
                cands = [d for d in decls[path]
                         if d.kind == "class" and d.name == host]
            elif qual and qual[0].isupper():
                cands = [d for d in by_name[name] if d.obj == qual]
            elif not qual or qual in ("new", "this"):
                own = [d for d in by_name[name] if d.path == path]
                cands = own or (by_name[name] if len(by_name[name]) == 1
                                else [])
            else:
                cands = by_name[name] if len(by_name[name]) == 1 else []
            fit = [d for d in cands if d.lists and len(d.lists) >= len(args)
                   and all(len(a) <= len(ps) for a, ps in zip(args, d.lists))]
            if len(fit) != 1:
                continue
            d = fit[0]
            outer = max((e for e in defs if e.start < m.start()),
                        key=lambda e: e.start, default=None)
            outer = {p for ps in outer.lists for p, _ in ps} if outer else set()
            where = f"{path}:{text.count(chr(10), 0, m.start()) + 1}"
            for li, ps in enumerate(d.lists):
                given = bind(args[li], ps) if li < len(args) else {}
                for pname, default in ps:
                    prm = params.get((id(d), li, pname))
                    if prm is None or (copy and pname not in given):
                        continue
                    v = given.get(pname, default)
                    if pname in given and not copy and (v == pname or
                                                        v in outer):
                        continue  # forwarded: the caller's callers set it
                    if pname in given and computed(v):
                        prm.computed = True
                    prm.values[v].append(where)
    one = [p for p in params.values()
           if len(p.values) == 1 and not p.computed]
    unset = [p for p in params.values() if not p.values]
    many = [p for p in params.values() if p not in one and p not in unset]
    if "--list" in argv:
        for label, group in (("set one way", one), ("no counted caller", unset),
                             ("set several ways", many)):
            print(f"## {label}: {len(group)}")
            for p in sorted(group, key=lambda p: (p.where, p.name)):
                vals = "; ".join(f"{v} x{len(s)}" for v, s in p.values.items())
                print(f"{p.where} {p.owner.obj}.{p.owner.name}.{p.name}"
                      f" = {p.default} | {vals or '-'}")
    print(f"default parameters: {len(params)}; set one way by every main "
          f"caller: {len(one)}; no counted main caller: {len(unset)}; "
          f"set several ways: {len(many)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

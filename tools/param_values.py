#!/usr/bin/env python3
"""List the defaulted parameters of the Scala `def`s under a directory
with the values their callers give them.

    python3 tools/param_values.py src/main/scala/graft/operators

For every defaulted parameter of a `def` under the directory, the
effective value at each call site is the argument text the call passes
(positional or named, whitespace collapsed), or the default when the
call passes nothing. A call that forwards a variable counts that
variable's name as its value, unless the last `val` of that name before
the call in the same file binds a literal (`val maxHamming = 3`): then
the literal is the value. Call sites are `Obj.name(` anywhere, where
`Obj` is the object or class the def sits in, and a bare `name(` in the
def's own file. Main call sites are those in `src/main` and
`perfbench/src`; test call sites those in `src/test`.

Two sections are printed:

  constant     one value at every main call, and no test passes another:
               the parameter can become a constant in the body;
  path switch  a Boolean with one value at every main call, where a test
               passes the other side (or a variable): the other side is a
               path no query runs.

A def no main code calls is not listed (see the front-door rule). The last
line counts the defaulted parameters found. Standard library only.
"""
import os
import re
import sys
from collections import defaultdict

MAIN_DIRS = ["src/main", "perfbench/src"]
TEST_DIRS = ["src/test"]


def scala_files(dirs):
    for d in dirs:
        for root, _, files in os.walk(d):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(root, f)


def blank_comments(src):
    """Return (code, in_string): comments become spaces (offsets kept),
    and in_string marks the characters inside string or char literals."""
    out = list(src)
    in_str = bytearray(len(src))
    i, n = 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            for k in range(i, j):
                out[k] = " "
            i = j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            for k in range(i, j):
                if out[k] != "\n":
                    out[k] = " "
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            for k in range(i + 1, j - 1):
                in_str[k] = 1
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            for k in range(i + 1, min(j, n)):
                in_str[k] = 1
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or
                                               (src[i + 1] == "\\" and src[i + 3:i + 4] == "'")):
            j = src.find("'", i + 2 if src[i + 1] != "\\" else i + 3)
            for k in range(i + 1, j):
                in_str[k] = 1
            i = j + 1
        else:
            i += 1
    return "".join(out), in_str


def group_end(code, in_str, i):
    """code[i] == '(' : the index just past its matching ')'."""
    depth = 0
    n = len(code)
    while i < n:
        c = code[i]
        if not in_str[i]:
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
                if depth == 0:
                    return i + 1
        i += 1
    return n


def split_top(code, in_str, lo, hi):
    """Split code[lo:hi] at the commas outside brackets and literals."""
    parts, depth, start = [], 0, lo
    for i in range(lo, hi):
        if in_str[i]:
            continue
        c = code[i]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(code[start:i])
            start = i + 1
    last = code[start:hi]
    if last.strip() or parts:
        parts.append(last)
    return parts


def norm(s):
    return " ".join(s.split())


def top_level_eq(s):
    """Index of the first '=' outside brackets that is no part of '=>',
    '==', '<=', '>=' or '!=', or -1."""
    depth = 0
    for i, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = s[i - 1] if i else ""
            nxt = s[i + 1] if i + 1 < len(s) else ""
            if nxt not in "=>" and prev not in "=<>!":
                return i
    return -1


def param_groups(code, in_str, i):
    """Parse the consecutive '(...)' groups starting at code[i]:
    a list of (lo, hi) spans of their insides, and the end index."""
    groups = []
    n = len(code)
    while True:
        j = i
        while j < n and code[j] in " \t\r\n":
            j += 1
        if j >= n or code[j] != "(":
            return groups, i
        end = group_end(code, in_str, j)
        groups.append((j + 1, end - 1))
        i = end


DEF_RE = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)\s*(\[[^\]\n]*\])?\s*(?=\()")
OWNER_RE = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")


class Def:
    def __init__(self, path, line, owner, name, lists):
        self.path, self.line, self.owner, self.name = path, line, owner, name
        # lists: [[(param, default or None), ...], ...]
        self.lists = lists
        self.start = 0

    def defaulted(self):
        return [(li, pi, p, d) for li, ps in enumerate(self.lists)
                for pi, (p, d) in enumerate(ps) if d is not None]


def owner_at(code, pos):
    """The innermost object/class/trait whose body encloses pos."""
    best = None
    for m in OWNER_RE.finditer(code, 0, pos):
        brace = code.find("{", m.end())
        if brace < 0 or brace > pos:
            continue
        depth, k = 0, brace
        while k < len(code):
            if code[k] == "{":
                depth += 1
            elif code[k] == "}":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        if k > pos:
            best = m.group(1)
    return best


def parse_defs(path):
    src = open(path, encoding="utf-8", errors="replace").read()
    code, in_str = blank_comments(src)
    defs = []
    for m in DEF_RE.finditer(code):
        if in_str[m.start()]:
            continue
        groups, end = param_groups(code, in_str, m.end())
        lists = []
        for lo, hi in groups:
            ps = []
            for part in split_top(code, in_str, lo, hi):
                part = re.sub(r"^\s*(implicit\s+)?((val|var)\s+)?", "", part)
                colon = part.find(":")
                if colon < 0:
                    continue
                name = part[:colon].strip()
                rest = part[colon + 1:]
                eq = top_level_eq(rest)
                ps.append((name, norm(rest[eq + 1:]) if eq >= 0 else None))
            lists.append(ps)
        d = Def(path, code.count("\n", 0, m.start()) + 1,
                owner_at(code, m.start()), m.group(1), lists)
        d.start = m.start()
        defs.append(d)
    return defs


LITERAL_RE = re.compile(r'-?[0-9][0-9_]*(\.[0-9]+)?[LlDdFf]?|true|false|"[^"\\\n]*"')
IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")


def resolve_local(code, pos, value):
    """value, or the literal that the last `val <value> = ...` before pos
    binds when value is a bare name and that binding is one literal."""
    if not IDENT_RE.match(value) or value in ("true", "false"):
        return value
    last = None
    val_re = re.compile(r"\bval\s+" + re.escape(value) +
                        r"\s*(?::[^=\n]*)?=(?![=>])([^\n]*)")
    for m in val_re.finditer(code, 0, pos):
        last = m
    if last is not None:
        rhs = last.group(1).strip()
        if LITERAL_RE.fullmatch(rhs):
            return rhs
    return value


def call_values(d, code, in_str, lo_call):
    """Effective values of d's defaulted parameters at the call whose
    argument groups start at code[lo_call]; None if it is no call."""
    groups, _ = param_groups(code, in_str, lo_call)
    groups = groups[:len(d.lists)]
    if not groups:
        return None
    vals = {}
    for li, ps in enumerate(d.lists):
        names = [p for p, _ in ps]
        given = {}
        if li < len(groups):
            lo, hi = groups[li]
            for k, arg in enumerate(split_top(code, in_str, lo, hi)):
                m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])", arg)
                if m and m.group(1) in names:
                    given[m.group(1)] = resolve_local(code, lo, norm(arg[m.end():]))
                elif k < len(names):
                    given[names[k]] = resolve_local(code, lo, norm(arg))
        for p, dflt in ps:
            if dflt is not None:
                vals[(li, p)] = given.get(p, dflt)
    return vals


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    target = sys.argv[1].rstrip("/")
    defs = [d for f in scala_files([target]) for d in parse_defs(f) if d.defaulted()]
    by_name = defaultdict(list)
    for d in defs:
        by_name[d.name].append(d)

    # values[def][(list, param)] = {"main": {value: count}, "test": {...}}
    values = {id(d): defaultdict(lambda: {"main": defaultdict(int),
                                          "test": defaultdict(int)}) for d in defs}
    names_alt = "|".join(sorted(map(re.escape, by_name), key=len, reverse=True))
    if not names_alt:
        return
    call_re = re.compile(r"(?<![A-Za-z0-9_])(?:([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?(" +
                         names_alt + r")\s*(?=\()")
    for side, dirs in (("main", MAIN_DIRS), ("test", TEST_DIRS)):
        for path in scala_files(dirs):
            src = open(path, encoding="utf-8", errors="replace").read()
            code, in_str = blank_comments(src)
            for m in call_re.finditer(code):
                if in_str[m.start(2)]:
                    continue
                if re.search(r"\bdef\s+$", code[max(0, m.start() - 20):m.start()]):
                    continue
                qual, name = m.group(1), m.group(2)
                for d in by_name[name]:
                    if qual is not None and qual != d.owner:
                        continue
                    if qual is None and os.path.abspath(path) != os.path.abspath(d.path):
                        continue
                    vals = call_values(d, code, in_str, m.end())
                    if vals is None:
                        continue
                    for key, v in vals.items():
                        values[id(d)][key][side][v] += 1

    constant, switch = [], []
    total = 0
    for d in defs:
        for li, _, p, dflt in d.defaulted():
            total += 1
            got = values[id(d)][(li, p)]
            main_vals, test_vals = set(got["main"]), set(got["test"])
            if len(main_vals) != 1:
                continue
            (mv,) = main_vals
            row = "%s:%d %s.%s %s = %s  main: %s (%d calls)  test: %s" % (
                d.path, d.line, d.owner, d.name, p, dflt, mv, got["main"][mv],
                ", ".join(sorted(test_vals)) or "-")
            if test_vals <= main_vals:
                constant.append(row)
            elif mv in ("true", "false") and dflt in ("true", "false"):
                switch.append(row)
    print("constant (%d)" % len(constant))
    for r in constant:
        print("  " + r)
    print("path switch (%d)" % len(switch))
    for r in switch:
        print("  " + r)
    print("%d defaulted parameters in %s" % (total, target))


if __name__ == "__main__":
    main()

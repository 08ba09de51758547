#!/usr/bin/env python3
"""List the parameters of the Scala `def`s and class constructors under a
directory with the values their callers give them.

    python3 tools/param_values.py src/main/scala/graft

For every parameter of a `def` or of a (non-case) class constructor under
the directory, the effective value at each call site is the argument
text the call passes (positional or named, whitespace collapsed), or the
default when the call passes nothing. A call that forwards a variable
counts that variable's name as its value, unless the last `val` of that
name before the call in the same file binds a literal (`val maxHamming =
3`): then the literal is the value. Call sites are `Obj.name(` anywhere,
where `Obj` is the object or class the def sits in, a bare `name(` in the
def's own file or in a file that imports `Obj._` (or names it in an
`import Obj.{...}`), and `new Name(` for a constructor. Main call sites
are those in `src/main` and `perfbench/src`; test call sites those in
`src/test`. A literal is an expression of literals, capitalised names
(`Dedup.MaxHamming`, `Seq`) and `col`/`lit`; a variable is none.

Two sections are printed:

  constant  one literal at every main call (or the default at every
            one), and no test passes another: the parameter can become a
            constant in the body;
  kept      one value at every main call, or `Some` at every one, but the
            parameter stays, for the tagged reason:
              tests vary it   a test passes another value;
              path switch     a Boolean or `Option` whose other side (or
                              `None`) only tests run;
              perfbench       `perfbench/src` calls it, so its signature
                              stays;
              SQL facade      a `GraftFunctions` def, which mirrors a SQL
                              function's argument list;
              oracle builder  a `SqlHelpers` def, the DuckDB reference.

A def no main code calls is not listed (see the front-door rule). The last
line counts the parameters found. Standard library only.
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
    and in_string marks the characters inside string or char literals,
    except the `${...}` and `$name` splices of an interpolated string."""
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
        elif src[i] == '"':
            i = string_end(src, in_str, i)
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or
                                               (src[i + 1] == "\\" and src[i + 3:i + 4] == "'")):
            j = src.find("'", i + 2 if src[i + 1] != "\\" else i + 3)
            for k in range(i + 1, j):
                in_str[k] = 1
            i = j + 1
        else:
            i += 1
    return "".join(out), in_str


def string_end(src, in_str, i):
    """src[i] opens a string literal: mark its characters in in_str and
    return the index just past it. An interpolated string (`s"..."`)
    leaves its `${...}` and `$name` splices unmarked: they are code."""
    n = len(src)
    triple = src.startswith('"""', i)
    interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
    j = i + (3 if triple else 1)
    while j < n:
        if triple and src.startswith('"""', j):
            while j + 3 < n and src[j + 3] == '"':
                in_str[j] = 1
                j += 1
            return j + 3
        if not triple and src[j] in '"\n':
            return j + 1
        if interp and src.startswith("$$", j):
            in_str[j] = in_str[j + 1] = 1
            j += 2
        elif interp and src.startswith("${", j):
            j += 2
            depth = 0
            while j < n and (src[j] != "}" or depth):
                if src[j] == '"':
                    j = string_end(src, in_str, j)
                    continue
                depth += {"{": 1, "}": -1}.get(src[j], 0)
                j += 1
            j += 1
        elif interp and src[j] == "$" and (src[j + 1:j + 2].isalpha() or src[j + 1:j + 2] == "_"):
            j += 1
            while j < n and (src[j].isalnum() or src[j] == "_"):
                j += 1
        else:
            in_str[j] = 1
            j += 2 if src[j] == "\\" and not triple else 1
            if j - 1 < n:
                in_str[j - 1] = 1
    return n


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
CLASS_RE = re.compile(r"(?<![A-Za-z0-9_])(case\s+)?class\s+([A-Za-z_][A-Za-z0-9_]*)\s*"
                      r"(\[[^\]\n]*\])?\s*(?:private\s*(?:\[[a-z]+\]\s*)?)?(?=\()")
OWNER_RE = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")

# owners whose signatures are front doors or references, not knobs
KEPT_OWNERS = {"GraftFunctions": "SQL facade", "SqlHelpers": "oracle builder"}


class Def:
    def __init__(self, path, line, owner, name, lists, ctor):
        self.path, self.line, self.owner, self.name = path, line, owner, name
        # lists: [[(param, type, default or None), ...], ...]
        self.lists = lists
        self.ctor = ctor

    def params(self):
        return [(li, p, t, d) for li, ps in enumerate(self.lists)
                for p, t, d in ps]

    def arity_ok(self, n_args):
        ps = self.lists[0] if self.lists else []
        required = sum(1 for _, _, d in ps if d is None)
        return required <= n_args <= len(ps) or (n_args == 0 and not ps)


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


def parse_lists(code, in_str, groups):
    lists = []
    for lo, hi in groups:
        parts = split_top(code, in_str, lo, hi)
        if parts and re.match(r"\s*implicit\b", parts[0]):
            break
        ps = []
        for part in parts:
            part = re.sub(r"^\s*((private|protected)(\[[a-z]+\])?\s+)?((override\s+)?(val|var)\s+)?",
                          "", part)
            colon = part.find(":")
            if colon < 0:
                continue
            name = part[:colon].strip()
            rest = part[colon + 1:]
            eq = top_level_eq(rest)
            typ = norm(rest[:eq] if eq >= 0 else rest)
            ps.append((name, typ, norm(rest[eq + 1:]) if eq >= 0 else None))
        lists.append(ps)
    return lists


def parse_defs(path):
    src = open(path, encoding="utf-8", errors="replace").read()
    code, in_str = blank_comments(src)
    defs = []
    for m in DEF_RE.finditer(code):
        if in_str[m.start()]:
            continue
        groups, _ = param_groups(code, in_str, m.end())
        defs.append(Def(path, code.count("\n", 0, m.start()) + 1,
                        owner_at(code, m.start()), m.group(1),
                        parse_lists(code, in_str, groups), False))
    for m in CLASS_RE.finditer(code):
        if in_str[m.start()] or m.group(1):
            continue  # a case class is a record: its fields are data, not knobs
        groups, _ = param_groups(code, in_str, m.end())
        defs.append(Def(path, code.count("\n", 0, m.start()) + 1,
                        m.group(2), m.group(2),
                        parse_lists(code, in_str, groups), True))
    return [d for d in defs if d.params()]


LITERAL_RE = re.compile(r'-?[0-9][0-9_]*(\.[0-9]+)?[LlDdFf]?|true|false|"[^"\\\n]*"')
IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*$")
LITERAL_NAMES = {"true", "false", "col", "lit"}


def is_literal(v):
    """An expression of literals: its only lower-case names are `true`,
    `false`, `col`, `lit`, a number suffix or a member selected with `.`."""
    s = re.sub(r'"(?:[^"\\\n]|\\.)*"', '""', v)
    s = re.sub(r"'(?:[^'\\\n]|\\.)'", "''", s)
    if re.search(r'[A-Za-z0-9_]""', s) or "=>" in s:
        return False  # an interpolated string or a function
    for m in re.finditer(r"(?<![A-Za-z0-9_])([A-Za-z_][A-Za-z0-9_]*)", s):
        name = m.group(1)
        before = s[:m.start()].rstrip()
        if name in LITERAL_NAMES or name[0].isupper() or before.endswith("."):
            continue
        return False
    return True


def column_shape(v):
    """The shape of a column-name argument: ("name", 1) for `"c"`,
    ("col", 1) for `col("c")`, ("seq", n) for `Seq("a", ...)` of n string
    literals; None for anything else."""
    lit = r'"[A-Za-z_][A-Za-z0-9_]*"'
    if re.fullmatch(lit, v):
        return ("name", 1)
    if re.fullmatch(r"col\(%s\)" % lit, v):
        return ("col", 1)
    m = re.fullmatch(r"Seq\((%s(?:, %s)*)\)" % (lit, lit), v)
    return ("seq", m.group(1).count(",") + 1) if m else None


def shares_column(d, got, param, mv, test_vals):
    """Another parameter of d reads the same column mv at every main call
    while tests give the two different columns: the tests then exercise
    two columns where the query reads one, which is more than a name."""
    for li, p, _, _ in d.params():
        other = got[(li, p)]
        if p != param and set(other["main"]) == {mv} and \
                set(other["test"]) != test_vals:
            return True
    return False


def resolve_local(code, pos, value):
    """value, or the literal that the last `val <value> = ...` before pos
    binds when value is a bare name and that binding is one literal. A
    parameter or lambda binding of the name after that `val` shadows it."""
    if not IDENT_RE.match(value) or value in ("true", "false"):
        return value
    last = None
    bind_re = re.compile(r"\bval\s+" + re.escape(value) +
                         r"\s*(?::[^=\n]*)?=(?![=>])([^\n]*)|[(,]\s*" +
                         re.escape(value) + r"\s*(?::(?!:)|=>)")
    for m in bind_re.finditer(code, 0, pos):
        last = m
    if last is not None and last.group(1) is not None:
        rhs = last.group(1).strip()
        if LITERAL_RE.fullmatch(rhs):
            return rhs
    return value


def call_values(d, code, in_str, lo_call):
    """Effective values of d's parameters at the call whose argument
    groups start at code[lo_call]; None if it is no call of d. A
    parameter of an argument list the call does not pass has no value."""
    groups, _ = param_groups(code, in_str, lo_call)
    groups = groups[:len(d.lists)]
    if not groups:
        return None
    vals = {}
    for li, ps in enumerate(d.lists):
        if li >= len(groups):
            break
        names = [p for p, _, _ in ps]
        lo, hi = groups[li]
        args = split_top(code, in_str, lo, hi)
        if li == 0 and not d.arity_ok(len(args)):
            return None
        given = {}
        for k, arg in enumerate(args):
            m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])", arg)
            if m and m.group(1) in names:
                given[m.group(1)] = resolve_local(code, lo, norm(arg[m.end():]))
            elif k < len(names):
                given[names[k]] = resolve_local(code, lo, norm(arg))
        for p, _, dflt in ps:
            v = given.get(p, dflt)
            if v is not None:
                vals[(li, p)] = v
    return vals


def imported_owners(code):
    """Owner -> names (None = all) that `import ... Owner._` or
    `import ... Owner.{a, b}` brings into scope in this file."""
    out = {}
    for m in re.finditer(r"\bimport\s+(?:[A-Za-z0-9_]+\.)*([A-Za-z0-9_]+)\.(_|\{[^}]*\})", code):
        if m.group(2) == "_":
            out[m.group(1)] = None
        else:
            names = {re.split(r"\s*=>\s*", x.strip())[0] for x in m.group(2)[1:-1].split(",")}
            if "_" in names:
                out[m.group(1)] = None
            elif out.get(m.group(1), set()) is not None:
                out.setdefault(m.group(1), set()).update(names)
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    target = sys.argv[1].rstrip("/")
    defs = [d for f in scala_files([target]) for d in parse_defs(f)]
    by_name = defaultdict(list)
    for d in defs:
        by_name[d.name].append(d)

    # values[def][(list, param)] = {"main": {value: count}, "test": {...}}
    values = {id(d): defaultdict(lambda: {"main": defaultdict(int),
                                          "test": defaultdict(int)}) for d in defs}
    perfbench_calls = set()
    names_alt = "|".join(sorted(map(re.escape, by_name), key=len, reverse=True))
    if not names_alt:
        return
    call_re = re.compile(r"(?<![A-Za-z0-9_.])(?:(new)\s+(?:[a-z][A-Za-z0-9_]*\.)*|"
                         r"(?:[a-z][A-Za-z0-9_]*\s*\.\s*)*([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?(" +
                         names_alt + r")\s*(?:\[[^\]\n]*\])?\s*(?=\()")
    for side, dirs in (("main", MAIN_DIRS), ("test", TEST_DIRS)):
        for path in scala_files(dirs):
            src = open(path, encoding="utf-8", errors="replace").read()
            code, in_str = blank_comments(src)
            imports = imported_owners(code)
            for m in call_re.finditer(code):
                if in_str[m.start(3)]:
                    continue
                if re.search(r"\b(def|class)\s+$", code[max(0, m.start() - 20):m.start()]):
                    continue
                new, qual, name = m.group(1), m.group(2), m.group(3)
                for d in by_name[name]:
                    if d.ctor != bool(new):
                        continue
                    if qual is not None and qual != d.owner:
                        continue
                    if qual is None and not d.ctor and \
                            os.path.abspath(path) != os.path.abspath(d.path):
                        scope = imports.get(d.owner, set())
                        if scope is not None and name not in scope:
                            continue
                    vals = call_values(d, code, in_str, m.end())
                    if vals is None:
                        continue
                    if path.startswith("perfbench/"):
                        perfbench_calls.add(id(d))
                    for key, v in vals.items():
                        values[id(d)][key][side][v] += 1

    constant, kept = [], []
    total = defaulted = 0
    for d in defs:
        for li, p, typ, dflt in d.params():
            total += 1
            defaulted += dflt is not None
            got = values[id(d)][(li, p)]
            main_vals, test_vals = set(got["main"]), set(got["test"])
            is_option = typ.startswith("Option[")
            all_some = is_option and main_vals and all(v.startswith("Some(") for v in main_vals)
            if len(main_vals) != 1 and not all_some:
                continue
            mv = sorted(main_vals)[0]
            if len(main_vals) == 1 and not (is_literal(mv) or mv == dflt):
                continue  # a forwarded variable: its source is the knob
            row = "%s:%d %s.%s %s%s  main: %s (%d calls)  test: %s" % (
                d.path, d.line, d.owner, d.name, p,
                "" if dflt is None else " = " + dflt,
                " | ".join(sorted(main_vals)), sum(got["main"].values()),
                ", ".join(sorted(test_vals)) or "-")
            if d.owner in KEPT_OWNERS:
                kept.append("[%s] %s" % (KEPT_OWNERS[d.owner], row))
            elif id(d) in perfbench_calls:
                kept.append("[perfbench] " + row)
            elif all_some and len(main_vals) > 1:
                kept.append("[path switch] " + row)
            elif test_vals <= main_vals and not all_some:
                constant.append(row)
            elif column_shape(mv) and all(column_shape(v) == column_shape(mv)
                                          for v in test_vals) and \
                    not shares_column(d, values[id(d)], p, mv, test_vals):
                constant.append(row + "  [test fixture names]")
            elif mv in ("true", "false") or all_some:
                kept.append("[path switch] " + row)
            else:
                kept.append("[tests vary it] " + row)
    print("constant (%d)" % len(constant))
    for r in constant:
        print("  " + r)
    print("kept (%d)" % len(kept))
    for r in sorted(kept):
        print("  " + r)
    print("%d parameters (%d defaulted, %d required) in %s" % (
        total, defaulted, total - defaulted, target))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""List object-level `def`s in src/main that nothing outside src/test calls.

    python3 tools/unreached.py      # or: make unreached

A `def` declared directly in an `object` body is an entry point of the
engine. It is reached when its name occurs in src/main or perfbench/src
anywhere other than its own declaration and body, after comments and
string literals are stripped (the `$name` and `${...}` parts of an
interpolated string are kept: they are code). An `apply` counts as
reached when its object's name is used.

Not listed, because they are reached by the runtime rather than by name:
`main`, `override` and `implicit` defs, the `graft.functions.exprs`
Column API (the Scala mirror of the SQL functions) and `ExtensionOracles`
(the oracle SQL the correctness check reads).

The check is textual, so a name shared by two defs counts as reached if
either is used. Prints one `path:line: Object.def` per hit and exits 1
when there is any.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCAN = [ROOT / "src" / "main", ROOT / "perfbench" / "src"]
ALLOWED_OBJECTS = {"graft.functions.exprs"}
ALLOWED_FILES = {"ExtensionOracles.scala"}
ALLOWED_NAMES = {"main"}
ALLOWED_MODIFIERS = {"override", "implicit"}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DECL = {"def", "val", "var", "object", "class", "trait", "type"}
MODIFIERS = {"private", "protected", "override", "implicit", "final",
             "lazy", "case", "sealed", "abstract", "inline"}


def strip(src):
    """Blank comments and string/char literals, keeping newlines and the
    code inside interpolated strings, so offsets and line numbers hold."""
    out = list(src)
    i, n = 0, len(src)

    def blank(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(i, j)
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
            blank(i, j)
            i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            quote = '"""' if src.startswith('"""', i) else '"'
            j = i + len(quote)
            while j < n and not src.startswith(quote, j):
                if quote == '"' and src[j] == "\\":
                    blank(j, j + 2)
                    j += 2
                    continue
                if interp and src.startswith("$$", j):
                    blank(j, j + 2)
                    j += 2
                    continue
                if interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    out[j] = " "
                    j = k
                    continue
                if interp and src[j] == "$":
                    m = IDENT.match(src, j + 1)
                    out[j] = " "
                    j = m.end() if m else j + 1
                    continue
                blank(j, j + 1)
                j += 1
            if quote == '"""':
                while src.startswith('"', j + 3):  # `""""` closes on the last three
                    blank(j, j + 1)
                    j += 1
            # the body was blanked piece by piece around any `${...}` code
            blank(i, i + len(quote))
            blank(j, min(j + len(quote), n))
            i = j + len(quote)
        elif c == "'" and re.match(r"'(\\.[^']*|[^'\\\n])'", src[i:i + 12]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3)
            blank(i, j + 1)
            i = j + 1
        else:
            i += 1
    return "".join(out)


def declarations(text):
    """Yield (object, name, modifiers, start, end) for every def declared
    directly in an object body; [start, end) runs from the def to the next
    member of that object (or its closing brace)."""
    m = re.search(r"^\s*package\s+([\w.]+)", text, re.M)
    scope = [m.group(1)] if m else []
    stack = []  # frames: [kind, qualified name, members]
    pending = None  # (kind, name) of the declaration the next `{` opens
    mods, mods_start = set(), 0
    for tok in re.finditer(r"[A-Za-z_][A-Za-z0-9_]*|[{}]", text):
        t, pos = tok.group(), tok.start()
        in_object = bool(stack) and stack[-1][0] == "object"
        if t == "{":
            kind, name = pending or ("block", None)
            stack.append([kind, name, []])
            pending = None
        elif t == "}":
            if stack:
                kind, owner, members = stack.pop()
                ends = [s for s, _, _ in members[1:]] + [pos]
                for (start, name, ms), end in zip(members, ends):
                    if name is not None:
                        yield owner, name, ms, start, end
        elif t in MODIFIERS:
            if not mods:
                mods_start = pos
            mods.add(t)
            continue
        elif t in DECL:
            nm = IDENT.match(text, tok.end() + 1)
            name = nm.group() if nm else None
            if t == "object" and name:
                owners = [f[1] for f in stack if f[0] == "object"]
                pending = ("object", ".".join(
                    (owners[-1:] or scope) + [name]))
            else:
                pending = (t if t in ("class", "trait") else "block", None)
            if in_object:
                stack[-1][2].append((mods_start if mods else pos,
                                     name if t == "def" else None, mods))
        mods = set()


def reached(name, owner, path, start, end, stripped):
    """Whether `name` (declared in `owner` at [start, end) of `path`) is
    used anywhere in the scanned sources outside that span."""
    if name == "apply":
        short = re.escape(owner.rsplit(".", 1)[-1])
        pat = re.compile(rf"(?<!object )(?<!class )\b{short}\s*(\(|\.apply\b)")
    else:
        pat = re.compile(rf"(?<!def )\b{re.escape(name)}\b")
    for q, text in stripped.items():
        for m in pat.finditer(text):
            if not (q == path and start <= m.start() < end):
                return True
    return False


def main():
    files = sorted(p for d in SCAN for p in d.rglob("*.scala"))
    stripped = {p: strip(p.read_text()) for p in files}
    main_dir = ROOT / "src" / "main"
    hits = []
    for p in files:
        if p.name in ALLOWED_FILES or main_dir not in p.parents:
            continue
        for owner, name, mods, start, end in declarations(stripped[p]):
            if (name in ALLOWED_NAMES or mods & ALLOWED_MODIFIERS
                    or owner in ALLOWED_OBJECTS
                    or reached(name, owner, p, start, end, stripped)):
                continue
            line = stripped[p].count("\n", 0, start) + 1
            hits.append(f"{p.relative_to(ROOT)}:{line}: "
                        f"{owner.rsplit('.', 1)[-1]}.{name}")
    for h in hits:
        print(h)
    sys.exit(1 if hits else 0)


if __name__ == "__main__":
    main()

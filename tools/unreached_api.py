#!/usr/bin/env python3
"""Public `def`s, `object`s, `class`es and `trait`s of graft's library
packages that no other code reaches.

    python3 tools/unreached_api.py [repo_root]

Prints each public member declared at top or object level (indent <= 2) in
`src/main/scala/graft/{ops,io,checkpoint,run,suite}/*.scala` that nothing
in `src/main` or `perfbench/src` reaches (comments are ignored and string
literals blanked, so neither a scaladoc link nor an error message is a
caller). A member of
an `object Obj` is reached by a qualified `Obj.name` (a line break may sit
before the dot), by a bare `name` inside `Obj`'s own body, or by a bare
`name` in a file that imports `Obj._` or `Obj.{..}`; a bare `name`
elsewhere is some other member of that name, so entry points with common
names (`run`) show up. Any other declaration is
reached by its name occurring anywhere apart from its own declaration.
Tests do not count: public API that only a test reaches is a candidate
for deletion. Names in ALLOWED are printed with their reason instead of as
candidates. Exits 1 when it prints an `unreached` line.
"""
import pathlib
import re
import sys

# kept on purpose although nothing outside tests calls them
ALLOWED = {
    "orThrow": "Flint changeset parity (ValidatorSpec pins it)",
    "partitionSummary": "Flint changeset parity (ValidatorSpec pins it)",
    "runHistory": "the per-invocation lineage view of a checkpointed run",
    "validRows": "Flint changeset parity (ValidatorSpec pins it)",
    "cosineNearDupPairs": "brute-force reference the LSH and SemDeDup tests compare against",
    "driftCheck": "the N7 drift check (PSI + KS against a baseline snapshot); SuiteSpec pins it",
    "dequantizeInt8": "reference for the int8 error bound",
    "deltaDedup": "raw-frame reference the indexed delta-dedup test compares against",
    "deltaDedupIndexed": "indexed lexical reference the redelivery tests drive; runDelta calls "
                         "deltaNearDupsIndexedAudited and deltaSurvivors instead",
    "run": "batch reference the delta ≡ batch test compares against",
    "semanticDedup": "batch SemDeDup reference the delta ≡ batch and first-snapshot tests compare against",
}

DECL = re.compile(r"^( {0,2})((?:(?:override|final|implicit|lazy|sealed|abstract|case)\s+)*)"
                  r"(def|object|class|trait)\s+([A-Za-z_]\w*)")
PACKAGES = ("ops", "io", "checkpoint", "run", "suite")
PRIVATE = re.compile(r"^\s*(private|protected)\b")
TOP = re.compile(r"^(?:(?:final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+([A-Za-z_]\w*)")


def strip_comments(src):
    """`src`'s lines with comments removed and string literals blanked to
    `""` (a name in an error message is not a caller), line breaks kept. An
    interpolated literal (`s"..."`, `f\"""...\"""`) keeps the code of its
    `${...}` splices, itself stripped the same way."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("\n" * src.count("\n", i, j))
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
        elif c == "'" and src[i + 2:i + 3] == "'":  # a char literal such as '"'
            j = i + 3
            out.append("' '")
        elif c == "'" and src[i + 1:i + 2] == "\\":  # an escaped one such as '\''
            j = src.find("'", i + 3) + 1
            out.append("' '")
        elif c == '"':
            triple = src.startswith('"""', i)
            interpolated = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            j = i + (3 if triple else 1)
            body = []
            while j < n:
                if triple and src.startswith('"""', j):
                    while src.startswith('""""', j):  # a closing run ends with its last three
                        j += 1
                    j += 3
                    break
                if not triple and src[j] in '"\n':
                    j += 1
                    break
                if not triple and src[j] == "\\":
                    j += 2
                elif interpolated and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0)
                        k += 1
                    body.append("\n".join(strip_comments(src[j + 2:k - 1])))
                    j = k
                else:
                    if src[j] == "\n":
                        body.append("\n")
                    j += 1
            out.append('"' + " ".join(body) + '"')
        else:
            out.append(c)
            j = i + 1
        i = j
    return "".join(out).split("\n")


def offsets(ls):
    """Character offset of each line's start in "\n".join(ls), then its end."""
    out, pos = [], 0
    for line in ls:
        out.append(pos)
        pos += len(line) + 1
    return out + [pos]


def bare(text, word):
    """Offsets of `word` not preceded by a dot (whitespace may sit between)."""
    return [m.start() for m in word.finditer(text) if not text[:m.start()].rstrip().endswith(".")]


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    files = sorted((root / "src/main").rglob("*.scala")) + sorted((root / "perfbench/src").rglob("*.scala"))
    lines = {f: strip_comments(f.read_text()) for f in files}
    texts = {f: "\n".join(ls) for f, ls in lines.items()}
    at = {f: offsets(ls) for f, ls in lines.items()}
    decls = []  # (name, kind, file, line number, name's offset, declaring object or None)
    for f in sorted(f for p in PACKAGES for f in (root / "src/main/scala/graft" / p).glob("*.scala")):
        tops = [(n, TOP.match(line)) for n, line in enumerate(lines[f]) if TOP.match(line)]
        for n, line in enumerate(lines[f]):
            m = DECL.match(line)
            if not m or PRIVATE.match(line):
                continue
            owner = None
            if m.group(1):  # a member: find its enclosing top-level definition
                starts = [(i, t) for i, t in tops if i < n]
                if starts and starts[-1][1].group(1) == "object":
                    i, t = starts[-1]
                    end = next((j for j, _ in tops if j > i), len(lines[f]))
                    owner = (t.group(2), i, end)
            decls.append((m.group(4), m.group(3), f, n, at[f][n] + m.start(4), owner))
    unreached = False
    for name, kind, f, n, decl_at, owner in decls:
        word = re.compile(rf"\b{re.escape(name)}\b")
        if owner is None:
            own = DECL.sub("", lines[f][n], count=1)  # the line minus the declared name
            used = word.search(own) or any(word.search(line) for g, ls in lines.items()
                                           for i, line in enumerate(ls) if (g, i) != (f, n))
        else:
            obj, start, end = owner
            qualified = re.compile(rf"\b{re.escape(obj)}\s*\.\s*{re.escape(name)}\b")
            wholesale = re.compile(rf"^\s*import\s+[\w.]*\b{re.escape(obj)}\.(_|\{{)", re.M)
            body = range(at[f][start], at[f][end])
            used = (any(qualified.search(t) for t in texts.values())
                    or any(o in body and o != decl_at for o in bare(texts[f], word))
                    or any(g != f and wholesale.search(t) and bare(t, word) for g, t in texts.items()))
        if used:
            continue
        where = f"{f.relative_to(root)}:{n + 1}"
        if name in ALLOWED:
            print(f"allowed  {kind} {name}  {where}  ({ALLOWED[name]})")
        else:
            print(f"unreached {kind} {name}  {where}")
            unreached = True
    return 1 if unreached else 0


if __name__ == "__main__":
    sys.exit(main())

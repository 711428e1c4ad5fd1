#!/usr/bin/env python3
"""Public `def`s and `object`s of graft.ops that no other code reaches.

    python3 tools/unreached_api.py [repo_root]

Prints each public member declared at object level (indent <= 2) in
`src/main/scala/graft/ops/*.scala` whose name occurs nowhere in
`src/main` or `perfbench/src` apart from its own name in its declaration
(comments are ignored, so a scaladoc link is not a caller). Tests do not
count: public API that only a test reaches is a candidate for deletion.
Names in ALLOWED are printed with their reason instead of as candidates.
"""
import pathlib
import re
import sys

# kept on purpose although nothing outside tests calls them
ALLOWED = {
    "cosineNearDupPairs": "brute-force reference the LSH and SemDeDup tests compare against",
    "dequantizeInt8": "reference for the int8 error bound",
    "deltaDedup": "raw-frame reference the indexed delta-dedup test compares against",
    "deltaDedupIndexed": "the composition runDelta runs; the indexed-redelivery tests drive it",
    "runResumable": "restartable batch pipeline; no CLI calls it, its kill-and-resume tests do",
}

DECL = re.compile(r"^( {0,2})((?:(?:override|final|implicit|lazy)\s+)*)(def|object)\s+([A-Za-z_]\w*)")
PRIVATE = re.compile(r"^\s*(private|protected)\b")


def strip_comments(src):
    src = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"), src, flags=re.S)
    out = []
    for line in src.split("\n"):
        i = line.find("//")
        while i >= 0 and line[:i].count('"') % 2 == 1:  # "//" inside a string literal
            i = line.find("//", i + 2)
        out.append(line if i < 0 else line[:i])
    return out


def main():
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
    files = sorted((root / "src/main").rglob("*.scala")) + sorted((root / "perfbench/src").rglob("*.scala"))
    lines = {f: strip_comments(f.read_text()) for f in files}
    decls = []  # (name, kind, file, line number)
    for f in sorted((root / "src/main/scala/graft/ops").glob("*.scala")):
        for n, line in enumerate(lines[f]):
            m = DECL.match(line)
            if m and not PRIVATE.match(line):
                decls.append((m.group(4), m.group(3), f, n))
    for name, kind, f, n in decls:
        word = re.compile(rf"\b{re.escape(name)}\b")
        own = DECL.sub("", lines[f][n], count=1)  # the line minus the declared name
        used = word.search(own) or any(word.search(line) for g, ls in lines.items()
                                       for i, line in enumerate(ls) if (g, i) != (f, n))
        if used:
            continue
        where = f"{f.relative_to(root)}:{n + 1}"
        if name in ALLOWED:
            print(f"allowed  {kind} {name}  {where}  ({ALLOWED[name]})")
        else:
            print(f"unreached {kind} {name}  {where}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Check that every scaladoc link in src/main/scala names something defined.

Usage: python3 tools/doclinks.py [scala_root]   (default: src/main/scala)

A link is `[[target]]` or `[[target display text]]` inside a comment; a
target may wrap onto the next comment line. Its last `.`/`#` segment must
be a def, val, var, class, object, trait or type defined somewhere under
the root. Targets starting `org.`, `java.` or `scala.` name library
symbols and pass. Prints each dangling link as `file:line: [[target]]`
and exits 1 if there is any, else exits 0.
"""
import pathlib
import re
import sys

DEF = re.compile(r"\b(?:def|val|var|class|object|trait|type)\s+([A-Za-z_]\w*)")
COMMENT = re.compile(r"/\*.*?\*/|//[^\n]*", re.S)
LINK = re.compile(r"\[\[(.*?)\]\]", re.S)
CONTINUATION = re.compile(r"\s*\n\s*\*?\s*")
WRAPPED_MEMBER = re.compile(r"\s*\n\s*\*?\s*(?=[.#])")
LIBRARY = ("org.", "java.", "scala.")


def main() -> int:
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main/scala")
    sources = {p: p.read_text(encoding="utf-8")
               for p in sorted(root.rglob("*.scala"))}
    defined = {m.group(1) for text in sources.values()
               for m in DEF.finditer(text)}
    dangling = []
    for path, text in sources.items():
        for comment in COMMENT.finditer(text):
            for link in LINK.finditer(comment.group(0)):
                body = WRAPPED_MEMBER.sub("", link.group(1))
                body = CONTINUATION.sub(" ", body).strip()
                target = body.split()[0] if body else body
                if target.startswith(LIBRARY):
                    continue
                name = re.split(r"[.#]", target.rstrip("$!"))[-1]
                if name not in defined:
                    line = text.count("\n", 0, comment.start() + link.start()) + 1
                    dangling.append(f"{path}:{line}: [[{target}]]")
    for d in dangling:
        print(d)
    print(f"doclinks: {len(dangling)} dangling link(s) in {len(sources)} files",
          file=sys.stderr)
    return 1 if dangling else 0


if __name__ == "__main__":
    sys.exit(main())

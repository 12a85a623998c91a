#!/usr/bin/env python3
"""Fail when a public member of a src/main object has no caller.

Usage: python3 tools/reach.py [--list]

Reads the call graph from the compiled classes with `javap -c -p`: the
engine's `target/scala-2.13/classes` (build it with `sbt compile`) and
the benchmark harness's classes under `perfbench/target/scala-2.13/classes`
(built with perfbench's own build when missing or older than its
sources). A member is a public method of a top-level Scala object (the
`X$` module class) whose definition in the source is not qualified
`private[...]` or `protected[...]` (the bytecode makes those public); it is
reached when any method of another member, of another class, or of a lambda
calls it. Calls a member makes to itself and the static forwarders of its
own object do not count. Entry points are reached by definition: every
`main`, and the members of `graft.SparkEntry`, which the oracle harness
calls from outside the program.
Compiler-made members are ignored: names holding `$` (synthetic accessors,
`$default$N` getters, specializations), constructors, and the generated
`apply`, `unapply`, `toString`, `readResolve` and `writeReplace`.

An unreached member passes when a line of `tools/reach_allow.txt` names it
(`graft.pkg.Object.member`) and gives one of three reasons:

  ref     <reference file>:<line>   reference parity; SURVEY.md or PAPER.md
                                    must cite that file at that line
  test    <Spec>::<test name>       the exact reference of a named test
  inverse <Spec>::<test name>       an inverse that a named test needs

For `test` and `inverse`, the named test must exist under src/test/scala
and its body must mention the member. An allowlist line naming a member
that is reached, or that no longer exists, is an error too, so the list
only shrinks. Prints each failure as `member: why` and exits 1 if there
is any, else exits 0. `--list` prints every unreached member first.
"""
import functools
import glob
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
PERF = os.path.join(ROOT, "perfbench")
PERF_SRC = os.path.join(PERF, "src", "main", "scala")
PERF_CLASSES = os.path.join(PERF, "target", "scala-2.13", "classes")
ALLOW = os.path.join(ROOT, "tools", "reach_allow.txt")
TESTS = os.path.join(ROOT, "src", "test", "scala")

GENERATED = {"main", "apply", "unapply", "toString", "readResolve",
             "writeReplace"}
ENTRY_OBJECT = "graft/SparkEntry$"
COMPILED_FROM = re.compile(r'^Compiled from "(.+)"$')
CLASS_HEADER = re.compile(r"^(?:[\w ]+ )?(?:class|interface) ([\w.$]+)")
# a method's declaration line in `javap -c -p` output; constructors print
# as the class name, the static initializer as `static {};`
METHOD_HEADER = re.compile(
    r"^  (?P<mods>[^ (][^(]*?)?(?P<name>[\w$.]+)\(.*\)(?: throws .*)?;$"
    r"|^  (?:public )?static \{\};$")
CALL = re.compile(
    r"// (?:Method|InterfaceMethod) (?:(?P<owner>[\w/$]+)\.)?"
    r"\"?(?P<name>[\w$<>]+)\"?:")
REASONS = ("ref", "test", "inverse")


def sources(base):
    return glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)


def class_files(base, prefixes=None):
    out = []
    for p in glob.glob(os.path.join(base, "**", "*.class"), recursive=True):
        rel = os.path.relpath(p, base)
        if prefixes is None or rel.startswith(prefixes):
            out.append(p)
    return sorted(out)


def newest(paths):
    return max((os.path.getmtime(p) for p in paths), default=0.0)


def engine_classes():
    files = class_files(ENGINE_CLASSES)
    if not files or newest(sources(ENGINE_SRC)) > newest(files):
        sys.exit("reach: target/scala-2.13/classes is missing or older than "
                 "src/main — run `sbt compile` first")
    return files


def harness_classes():
    """The harness's own classes; perfbench's classes dir also holds its
    copy of the engine, which is left out (the engine build is read)."""
    prefixes = ("graft/perfbench/", "org/apache/spark/perfbench/")
    files = class_files(PERF_CLASSES, prefixes)
    if not files or newest(sources(PERF_SRC)) > newest(files):
        sys.path.insert(0, PERF)
        sys.dont_write_bytecode = True
        import run  # perfbench's runner owns its build
        run.build(run.spark_jars())
        files = class_files(PERF_CLASSES, prefixes)
    if not files:
        sys.exit("reach: perfbench's classes were not built")
    return files


def javap(files):
    out = []
    for i in range(0, len(files), 400):
        r = subprocess.run(["javap", "-c", "-p"] + files[i:i + 400],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, check=True)
        out.append(r.stdout)
    return "\n".join(out)


@functools.lru_cache(maxsize=None)
def source_text(source):
    paths = glob.glob(os.path.join(ENGINE_SRC, "**", source), recursive=True)
    return "".join(open(p, encoding="utf-8").read() for p in paths)


def qualified_private(source, name):
    """True when every definition of `name` in `source` (a file name under
    src/main/scala) is `private[...]`/`protected[...]`."""
    text = source_text(source)
    defs = re.findall(r"^\s*((?:\w+(?:\[\w+\])?\s+)*)(?:def|val|var)\s+"
                      + re.escape(name) + r"\b", text, re.M)
    return bool(defs) and all(re.search(r"\b(?:private|protected)\[", d)
                              for d in defs)


def parse(dump):
    """(members, edges): members maps `pkg/Obj$` to its public method
    names; edges is a set of (caller class, caller method, callee class,
    callee method)."""
    members, edges = {}, set()
    cls = meth = source = None
    for line in dump.splitlines():
        m = COMPILED_FROM.match(line)
        if m:
            source = m.group(1)
            continue
        m = CLASS_HEADER.match(line)
        if m and not line.startswith(" "):
            cls, meth = m.group(1).replace(".", "/"), None
            continue
        m = METHOD_HEADER.match(line)
        if m:
            meth = (m.group("name") or "<clinit>").rsplit(".", 1)[-1]
            simple = cls.rsplit("/", 1)[-1]
            top_module = simple.endswith("$") and "$" not in simple[:-1]
            if (top_module and cls != ENTRY_OBJECT
                    and "public" in (m.group("mods") or "").split()
                    and "$" not in meth and meth not in GENERATED
                    and not qualified_private(source, meth)):
                members.setdefault(cls, set()).add(meth)
            continue
        m = CALL.search(line)
        if m and cls and meth:
            edges.add((cls, meth, m.group("owner") or cls, m.group("name")))
    return members, edges


def reached(members, edges):
    hit = set()
    for caller_cls, caller, owner, name in edges:
        module = owner if owner.endswith("$") else owner + "$"
        if name not in members.get(module, ()):
            continue
        self_call = caller_cls in (module, module[:-1]) and caller == name
        if not self_call:
            hit.add((module, name))
    return hit


def dotted(module, name):
    return module[:-1].replace("/", ".") + "." + name


def test_bodies():
    bodies = {}
    for path in sources(TESTS):
        text = open(path, encoding="utf-8").read()
        spec = os.path.splitext(os.path.basename(path))[0]
        starts = [m for m in re.finditer(r'^  test\("', text, re.M)]
        for i, m in enumerate(starts):
            end = starts[i + 1].start() if i + 1 < len(starts) else len(text)
            body = text[m.start():end]
            name = "".join(re.findall(r'"((?:[^"\\]|\\.)*)"',
                                      body.split("{", 1)[0]))
            bodies.setdefault(spec, []).append((name, body))
    return bodies


def check_reason(member, kind, evidence, bodies, cited):
    name = member.rsplit(".", 1)[-1]
    if kind == "ref":
        m = re.fullmatch(r"([\w./-]+\.\w+):(\d+)", evidence)
        if not m:
            return f"reference '{evidence}' is not <file>:<line>"
        if (os.path.basename(m.group(1)), m.group(2)) not in cited:
            return f"{evidence} is cited nowhere in SURVEY.md or PAPER.md"
        return None
    spec, _, test = evidence.partition("::")
    named = [body for t, body in bodies.get(spec, []) if t.startswith(test)]
    if not test or not named:
        return f"no test in {spec} starts with '{test}'"
    if not any(re.search(r"\b%s\b" % re.escape(name), b) for b in named):
        return f"the named test never mentions {name}"
    return None


def main():
    dump = javap(engine_classes() + harness_classes())
    members, edges = parse(dump)
    hit = reached(members, edges)
    unreached = sorted(dotted(mod, n) for mod, names in members.items()
                       for n in names if (mod, n) not in hit)
    known = {dotted(mod, n) for mod, names in members.items() for n in names}
    if "--list" in sys.argv:
        for u in unreached:
            print(f"unreached {u}")
    cited = set()
    for doc in ("SURVEY.md", "PAPER.md"):
        path = os.path.join(ROOT, doc)
        if os.path.exists(path):
            text = open(path, encoding="utf-8").read()
            cited |= {(os.path.basename(f), line) for f, line
                      in re.findall(r"([\w./-]+\.\w+):(\d+)", text)}
    bodies = test_bodies()
    allowed, failures = {}, []
    for n, raw in enumerate(open(ALLOW, encoding="utf-8"), 1):
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        parts = line.split(None, 2)
        if len(parts) != 3 or parts[1] not in REASONS:
            failures.append(f"reach_allow.txt:{n}: want '<member> "
                            f"{'|'.join(REASONS)} <evidence>'")
            continue
        member, kind, evidence = parts
        allowed[member] = n
        if member not in known:
            failures.append(f"{member}: allowlisted but not a member")
        elif member not in unreached:
            failures.append(f"{member}: allowlisted but reached — drop the "
                            "line")
        else:
            why = check_reason(member, kind, evidence, bodies, cited)
            if why:
                failures.append(f"{member}: {why}")
    for u in unreached:
        if u not in allowed:
            failures.append(f"{u}: no caller in src/main or perfbench/src")
    for f in failures:
        print(f)
    print(f"reach: {len(known)} members, {len(unreached)} unreached, "
          f"{len(allowed)} allowlisted, {len(failures)} failure(s)",
          file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""List the program's top-level classes that no entry point reaches.

Usage (from the root of a checkout, after ``sbt compile``):

    python3 scripts/unreached.py target/scala-2.13/classes

Builds the class-level dependency graph of the compiled ``graft.*``
classes with the JDK's ``jdeps -verbose:class`` and walks it from the
roots:

* the entry points in ``ENTRY_POINTS`` (the ``graft`` CLI, the Bench,
  Verify and QProf harness mains, and the query catalog);
* every ``graft.*`` type that perfbench's harness imports (read from
  ``perfbench/harness/src``);
* every ``"graft.…"`` string literal in ``src/main`` that names a
  class, since Spark loads catalogs and connectors by name.

Prints one line per top-level class that none of the roots reaches, each
tagged ``allowed (<reason>)`` when ``ALLOWED`` covers it. Exits 1 when a
class outside ``ALLOWED`` is unreached, 2 on a usage or jdeps error.
"""
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))

ENTRY_POINTS = [
    "graft.cli.GraftMain",
    "graft.Bench",
    "graft.Verify",
    "graft.QProf",
    "graft.SparkEntry",
]

# Unreached on purpose: prefix (a trailing '.' matches a package) -> reason.
ALLOWED = {
    "graft.streaming.": "the streaming twins of batch queries; "
                        "StreamingSpec runs them",
    "graft.GenScale": "run by hand for SCALE.md's scale-factor recipes",
}

EDGE = re.compile(r"^\s+(graft\.\S+)\s+->\s+(\S+)\s")
LITERAL = re.compile(r'"(graft\.[A-Za-z0-9_.$]+)"')
IMPORT = re.compile(r"^\s*import\s+(graft\.[\w.]*?)(?:\{([^}]*)\}|(\w+))\s*$",
                    re.M)


def top_level(cls):
    return cls.split("$", 1)[0]


def class_graph(classes_dir):
    """(every graft class in the dir, class -> set of graft classes)."""
    out = subprocess.run(
        ["jdeps", "-verbose:class", "-filter:none", classes_dir],
        capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"jdeps failed: {out.stderr.strip()}")
    nodes, edges = set(), {}
    for line in out.stdout.splitlines():
        m = EDGE.match(line)
        if m:
            src, dst = m.groups()
            nodes.add(src)
            if dst.startswith("graft."):
                edges.setdefault(src, set()).add(dst)
    return nodes, edges


def source_roots(subdir, pattern):
    names = set()
    for dp, _, fns in os.walk(os.path.join(ROOT, subdir)):
        for f in fns:
            if f.endswith(".scala"):
                with open(os.path.join(dp, f), encoding="utf-8") as fh:
                    names.update(pattern(fh.read()))
    return names


def literal_names(text):
    return LITERAL.findall(text)


def harness_imports(text):
    for pkg, group, single in IMPORT.findall(text):
        for name in (group.split(",") if group else [single]):
            name = name.split("=>")[0].strip()
            if name and name != "_":
                yield pkg + name


def allowed(name):
    for prefix, reason in ALLOWED.items():
        if name == prefix or (prefix.endswith(".") and
                              name.startswith(prefix)):
            return reason
    return None


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        print("usage: unreached.py <classes dir>", file=sys.stderr)
        return 2
    nodes, edges = class_graph(argv[1])
    named = ENTRY_POINTS + sorted(
        source_roots("perfbench/harness/src", harness_imports) |
        source_roots("src/main", literal_names))
    roots = [c for n in named for c in (n, n + "$") if c in nodes]
    missing = [n for n in ENTRY_POINTS if n not in nodes]
    if missing:
        print(f"entry points not in {argv[1]}: {', '.join(missing)}",
              file=sys.stderr)
        return 2
    seen, stack = set(roots), list(roots)
    while stack:
        for dst in edges.get(stack.pop(), ()):
            if dst not in seen:
                seen.add(dst)
                stack.append(dst)
    reached = {top_level(c) for c in seen}
    unreached = sorted({top_level(c) for c in nodes} - reached)
    bad = 0
    for name in unreached:
        reason = allowed(name)
        print(f"{name}  allowed ({reason})" if reason else name)
        bad += reason is None
    print(f"{len(unreached)} unreached top-level classes, "
          f"{bad} outside the allowlist", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

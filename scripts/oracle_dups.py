#!/usr/bin/env python3
"""Find SQL text that the query catalog repeats instead of sharing.

Usage (from the root of a checkout):

    python3 scripts/oracle_dups.py src/main/scala/graft/queries

Reads every triple-quoted string literal in the ``.scala`` files of the
directory: the DuckDB oracle SQL, the ``sql*`` builders it is made from,
and the few Spark-side SQL strings. Each literal is cut into its
non-blank lines, each stripped of whitespace, and slid over in windows
of ``WINDOW`` lines. A window whose text occurs at two or more places is
repeated. Prints:

* the number of SQL lines, the number that sit in a repeated window,
  and the number that sit in a second-or-later copy;
* every block (a run of overlapping windows) found at ``MIN_SITES`` or
  more places, with its sites as ``file:line``, its id (the short hash
  of its first window) and its first line, each tagged
  ``allowed (<reason>)`` when ``ALLOWED`` names one of its windows.

Exits 1 when a block at ``MIN_SITES`` or more places is not allowed, 2
on a usage error.
"""
import hashlib
import os
import re
import sys
from collections import defaultdict

WINDOW = 6
MIN_SITES = 3

# Repeated on purpose: window id -> reason.
ALLOWED = {
    "15bb50c50c": "the MERGE statement of q88, q105, q106 and q108 is "
                  "Spark-side SQL inside each query body, not oracle SQL",
}

LITERAL = re.compile(r'"""(.*?)"""', re.S)


def literals(qdir):
    """Each literal as a list of (file, line number, stripped text)."""
    out = []
    for fn in sorted(os.listdir(qdir)):
        if not fn.endswith(".scala"):
            continue
        with open(os.path.join(qdir, fn), encoding="utf-8") as fh:
            src = fh.read()
        for m in LITERAL.finditer(src):
            first = src.count("\n", 0, m.start(1)) + 1
            lines = [(fn, first + i, re.sub(r"\s+", "", text))
                     for i, text in enumerate(m.group(1).split("\n"))]
            out.append([x for x in lines if x[2]])
    return out


def window_id(key):
    return hashlib.sha1("\n".join(key).encode()).hexdigest()[:10]


def main(qdir):
    lits = literals(qdir)
    sites = defaultdict(list)  # window text -> [(literal index, offset)]
    for li, lines in enumerate(lits):
        for i in range(len(lines) - WINDOW + 1):
            sites[tuple(x[2] for x in lines[i:i + WINDOW])].append((li, i))

    repeated, later = set(), set()
    for occ in sites.values():
        if len(occ) < 2:
            continue
        for k, (li, i) in enumerate(occ):
            for f, n, _ in lits[li][i:i + WINDOW]:
                repeated.add((f, n))
                if k:
                    later.add((f, n))
    total = sum(len(lines) for lines in lits)
    print(f"{total} SQL lines, {len(repeated)} in a repeated "
          f"{WINDOW}-line block, {len(later)} in a second-or-later copy")

    # A block: windows at MIN_SITES+ places joined wherever two of them
    # overlap by WINDOW-1 lines in one literal (union-find over texts).
    parent = {}

    def find(k):
        while parent[k] != k:
            parent[k] = parent[parent[k]]
            k = parent[k]
        return k

    keys = {}
    for li, lines in enumerate(lits):
        for i in range(len(lines) - WINDOW + 1):
            k = tuple(x[2] for x in lines[i:i + WINDOW])
            if len(sites[k]) < MIN_SITES:
                continue
            keys[(li, i)] = k
            parent.setdefault(k, k)
            prev = keys.get((li, i - 1))
            if prev is not None:
                parent[find(k)] = find(prev)
    blocks = defaultdict(set)  # root -> window texts
    for k in parent:
        blocks[find(k)].add(k)

    bad = 0
    for members in sorted(blocks.values(),
                          key=lambda m: min(min(sites[k]) for k in m)):
        # the block's sites: those of its most-repeated window
        anchor = max(members, key=lambda k: (len(sites[k]), [-x for x in min(sites[k])]))
        first = min(members, key=lambda k: min(sites[k]))
        ids = {window_id(k) for k in members}
        reason = next((ALLOWED[i] for i in sorted(ids) if i in ALLOWED), None)
        where = ", ".join(f"{f}:{n}" for f, n in sorted(
            lits[li][i][:2] for li, i in sites[anchor]))
        tag = f"allowed ({reason})" if reason else "NOT ALLOWED"
        print(f"block {window_id(first)} at {len(sites[anchor])} sites, "
              f"{len(members) + WINDOW - 1}+ lines, {tag}: {first[0]}")
        print(f"  {where}")
        bad += reason is None
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1]))

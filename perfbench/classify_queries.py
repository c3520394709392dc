#!/usr/bin/env python3
"""Classify every registered graft query into a module family.

A query belongs to the first family whose module its definition calls, in
this order:

  stream  graft.streaming (Streaming* objects, readStream / writeStream)
  index   an on-disk index of ops.Similarity, ops.Layouts or ops.Bloom (the
          in-memory fan-out helpers and Bloom.bloomGate are not indexes)
  dedup   ops.Dedup
  other   none of the above

The definition is the body of `def qNN(...)` plus the bodies of the helpers
in the queries package that it calls (followed transitively). Run from the
repository root; it rewrites perfbench/families.json:

    python3 perfbench/classify_queries.py
"""
import json
import os
import re
import sys

QUERIES_DIR = os.path.join("src", "main", "scala", "graft", "queries")
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "families.json")

FAMILIES = [
    ("stream", re.compile(r"\bStreaming[A-Z]\w*\.|\breadStream\b|\bwriteStream\b|graft\.streaming")),
    ("index", re.compile(
        r"\bLayouts\.(?!fanOut)\w+|\bBloom\.(writeBloomIndex|readBloomIndex|compactBloomIndex)|"
        r"\bSimilarity\.\w*(FromFiles|AtRest|Partitioned|maintain|Maintain|compact|append|Drift|Layout)\w*")),
    ("dedup", re.compile(r"\bDedup\.\w+")),
]

DEF_RE = re.compile(r"^  (?:private\[queries\] |private |protected )?def (\w+)", re.M)


def definitions(text):
    """Map def name -> body text for every 2-space-indented def in a file."""
    starts = [(m.start(), m.group(1)) for m in DEF_RE.finditer(text)]
    out = {}
    for i, (pos, name) in enumerate(starts):
        end = starts[i + 1][0] if i + 1 < len(starts) else len(text)
        out.setdefault(name, "")
        out[name] += text[pos:end]
    return out


def main():
    if not os.path.isdir(QUERIES_DIR):
        sys.exit("run from the repository root")
    defs = {}
    registry = {}
    for fn in sorted(os.listdir(QUERIES_DIR)):
        text = open(os.path.join(QUERIES_DIR, fn), encoding="utf-8").read()
        for name, body in definitions(text).items():
            defs[name] = defs.get(name, "") + body
        for key, fun in re.findall(r'"(q\d+_\w+)" -> \((\w+) _\)', text):
            registry[key] = fun
    call_re = {n: re.compile(r"\b%s\b" % re.escape(n)) for n in defs}

    def closure(fun):
        seen, todo = set(), [fun]
        while todo:
            f = todo.pop()
            if f in seen or f not in defs:
                continue
            seen.add(f)
            body = defs[f]
            todo.extend(n for n in defs if n not in seen and not n.startswith("q") and call_re[n].search(body))
        return "".join(defs[f] for f in seen)

    families = {}
    for key, fun in registry.items():
        body = closure(fun)
        families[key] = next((fam for fam, rx in FAMILIES if rx.search(body)), "other")
    with open(OUT, "w") as f:
        json.dump(families, f, indent=1, sort_keys=True)
        f.write("\n")
    counts = {}
    for fam in families.values():
        counts[fam] = counts.get(fam, 0) + 1
    print(len(families), "queries", counts)


if __name__ == "__main__":
    main()

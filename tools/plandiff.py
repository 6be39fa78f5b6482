#!/usr/bin/env python3
"""Compare two `graft.Profile --plan <dir>` dump directories, query by query.

    python3 tools/plandiff.py <before_dir> <after_dir>

For each `<name>.txt` in either directory, prints `<name>: identical`, or
`<name>: differs at line N` with that first differing line from each
side, or `<name>: only in <dir>`. Exits 0 when every dump is identical,
1 otherwise.

Before comparing, each dump has what differs between two runs of the
same plan replaced (the strip of plans/r20/README.md, plus the paths):

- `#NNN` expression ids and `plan_id=NNN`, which change run to run;
- `.scala:NNN` call sites, which move with the code;
- the data directory named in the first header line (`... at <dir>`)
  and the `spark.graft.scaffoldDir` value of the `# conf:` header,
  wherever they appear, by `<data>` and `<scaffold>`;
- the random suffix of `graft_*` temp directories.

Checkpoint scans print `MapPartitionsRDD[N]`, where N counts every RDD
the JVM made before; that is left alone, so a plan that reads a table
one extra time shows up as a difference. Give both sides a fresh
`--conf spark.graft.scaffoldDir=<dir>` and the same names in the same
order.
"""
import os
import re
import sys

_DATA = re.compile(r"^# .* at (\S+)\s*$")
_SCAFFOLD = re.compile(r"spark\.graft\.scaffoldDir=([^,\s]+)")
_SUBS = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\.scala:\d+"), ".scala"),
    (re.compile(r"(graft_[A-Za-z0-9_]*?_?)-?\d{8,}"), r"\1<tmp>"),
]


def normalize(text):
    """The dump's lines with run-to-run noise replaced."""
    lines = text.splitlines()
    paths = []
    if lines:
        m = _DATA.match(lines[0])
        if m:
            paths.append((m.group(1), "<data>"))
    for line in lines:
        if line.startswith("# conf:"):
            m = _SCAFFOLD.search(line)
            if m:
                paths.append((m.group(1), "<scaffold>"))
    # longest first, so a path nested in another is replaced whole
    paths.sort(key=lambda p: -len(p[0]))
    out = []
    for line in lines:
        for path, mark in paths:
            line = line.replace(path, mark)
        for pat, rep in _SUBS:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def first_difference(a, b):
    """(1-based line, line of a, line of b) of the first difference, or
    None; a side that ends early reads as "<end of file>"."""
    for i in range(max(len(a), len(b))):
        x = a[i] if i < len(a) else "<end of file>"
        y = b[i] if i < len(b) else "<end of file>"
        if x != y:
            return i + 1, x, y
    return None


def _dumps(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def compare(before, after, out=None):
    """Prints one verdict per query; returns how many are not identical."""
    out = out or sys.stdout
    a, b = _dumps(before), _dumps(after)
    bad = 0
    for name in sorted(a | b):
        if name not in b or name not in a:
            print(f"{name}: only in {before if name in a else after}", file=out)
            bad += 1
            continue
        with open(os.path.join(before, name + ".txt"), encoding="utf-8") as f:
            x = normalize(f.read())
        with open(os.path.join(after, name + ".txt"), encoding="utf-8") as f:
            y = normalize(f.read())
        diff = first_difference(x, y)
        if diff is None:
            print(f"{name}: identical", file=out)
        else:
            n, l, r = diff
            print(f"{name}: differs at line {n}\n  - {l}\n  + {r}", file=out)
            bad += 1
    return bad


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    bad = compare(argv[1], argv[2])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

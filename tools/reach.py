#!/usr/bin/env python3
"""List src/main members that no main code references, and the line change.

    python3 tools/reach.py [BASE_REV]

A member is a def/val/class/object/type declared at the top level of a
src/main file or directly in a top-level object (indent 0 or 2). It counts as
referenced when its name appears as a whole word in src/main or perfbench/src
code outside comments and outside its own definition line. String literals
are kept: interpolated SQL templates hold real calls. The scan is by name, so
an overloaded or shadowed name reads as referenced, and a member called only
from another unreferenced member shows up once that caller is deleted. The
compiler is the proof; this is the list of candidates. Objects holding a
`main`, `override`s (called by Spark or the JVM) and implicits are skipped.

Each line: file:line  name  spec-refs=<whole-word hits in src/test code>.
With BASE_REV, also prints the net src/main line change against it, split
into code and comment lines (blank lines are counted in neither).
"""
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
DEF = re.compile(r"^(?:  )?(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|"
                 r"implicit\s+|lazy\s+|case\s+|sealed\s+|abstract\s+)*"
                 r"(?:def|val|var|class|object|trait|type)\s+(\w+)")
SKIP = re.compile(r"^\s*(?:override|implicit|.*\bdef main\b)")
# comments, and the literals whose contents must not read as comments
TOKEN = re.compile(r'/\*.*?\*/|//[^\n]*|""".*?"""|"(?:\\.|[^"\\\n])*"'
                   r"|'(?:\\.|[^'\\\n])'", re.S)


def code_lines(text):
    """The file's lines with every comment blanked (line breaks kept)."""
    def blank(m):
        t = m.group(0)
        return re.sub(r"[^\n]", " ", t) if t.startswith("/") else t
    return TOKEN.sub(blank, text).split("\n")


def scala_files(*dirs):
    return sorted(p for d in dirs for p in (ROOT / d).rglob("*.scala"))


def words(files):
    """Whole-word counts over code, and each file's code lines."""
    counts, per_file = {}, {}
    for p in files:
        per_file[p] = code_lines(p.read_text())
        for w in re.findall(r"\w+", "\n".join(per_file[p])):
            counts[w] = counts.get(w, 0) + 1
    return counts, per_file


def unreferenced():
    main, per_file = words(scala_files("src/main", "perfbench/src"))
    spec, _ = words(scala_files("src/test"))
    for p, lines in per_file.items():
        entry = any(re.search(r"\bdef main\b", c) for c in lines)
        for n, code in enumerate(lines, 1):
            m = DEF.match(code)
            if not m or SKIP.match(code) or entry and "object" in code:
                continue
            name = m.group(1)
            own = len(re.findall(rf"\b{name}\b", code))
            if main.get(name, 0) - own == 0:
                rel = p.relative_to(ROOT)
                print(f"{rel}:{n}  {name}  spec-refs={spec.get(name, 0)}")


def line_counts(texts):
    code = comment = 0
    for text in texts:
        for raw, c in zip(text.split("\n"), code_lines(text)):
            if c.strip():
                code += 1
            elif raw.strip():
                comment += 1
    return code, comment


def net_change(base):
    def git(*args):
        return subprocess.run(["git", "-C", str(ROOT), *args], check=True,
                              capture_output=True, text=True).stdout
    names = git("ls-tree", "-r", "--name-only", base, "src/main").split()
    old = [git("show", f"{base}:{n}") for n in names if n.endswith(".scala")]
    new = [p.read_text() for p in scala_files("src/main")]
    (oc, om), (nc, nm) = line_counts(old), line_counts(new)
    print(f"src/main vs {base}: code {oc} -> {nc} ({nc - oc:+d}), "
          f"comments {om} -> {nm} ({nm - om:+d}), "
          f"total {oc + om} -> {nc + nm} ({nc + nm - oc - om:+d})")


if __name__ == "__main__":
    unreferenced()
    if len(sys.argv) > 1:
        net_change(sys.argv[1])

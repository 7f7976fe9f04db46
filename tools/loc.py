#!/usr/bin/env python3
"""Line and code-line counts of Scala sources.

Usage: python3 tools/loc.py [PATH ...] [--against REV]

For each .scala file under the given files or directories (default
src/main/scala), print its lines and its code lines, then the totals. A
code line is non-blank, is not a `//` comment line, and is not inside a
`/* ... */` block (scaladoc included). A block opens where a line, or the
rest of a line after a closing `*/`, starts with `/*`; a `/*` after code on
the same line is left alone, since it is as likely a string (a glob such as
"dir/*") as a comment.

--against REV  also count the same files as they are at git revision REV
               (read with `git show REV:path`) and print both sides and the
               difference. A file present on only one side counts 0 on the
               other.
"""
import argparse
import os
import subprocess
import sys


def count(text):
    """(lines, code lines) of one Scala source text."""
    lines = text.splitlines()
    code = 0
    in_block = False
    for line in lines:
        s = line.strip()
        has_code = False
        while s:
            if in_block:
                end = s.find("*/")
                if end < 0:
                    break
                in_block = False
                s = s[end + 2:].strip()
            elif s.startswith("//"):
                break
            elif s.startswith("/*"):
                in_block = True
                s = s[2:]
            else:
                has_code = True
                break
        if has_code:
            code += 1
    return len(lines), code


def scala_files(paths):
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                out += [os.path.join(root, n) for n in names if n.endswith(".scala")]
        elif p.endswith(".scala"):
            out.append(p)
    return sorted(set(os.path.normpath(f) for f in out))


def git_files(rev, paths):
    """The .scala files under `paths` at `rev`, repo-relative like `paths`."""
    res = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--"] + paths,
                         capture_output=True, text=True, check=True)
    return sorted(os.path.normpath(f) for f in res.stdout.split() if f.endswith(".scala"))


def at_rev(rev, path):
    res = subprocess.run(["git", "show", f"{rev}:./{path}"], capture_output=True, text=True)
    return res.stdout if res.returncode == 0 else None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("paths", nargs="*", default=["src/main/scala"])
    ap.add_argument("--against", metavar="REV")
    a = ap.parse_args(argv)
    here = {}
    for f in scala_files(a.paths):
        with open(f, encoding="utf-8") as fh:
            here[f] = count(fh.read())
    if a.against is None:
        for f, (n, c) in here.items():
            print(f"{n:7d} {c:7d}  {f}")
        print(f"{sum(n for n, _ in here.values()):7d} "
              f"{sum(c for _, c in here.values()):7d}  total")
        return 0
    there = {}
    for f in set(git_files(a.against, a.paths)) | set(here):
        text = at_rev(a.against, f)
        if text is not None:
            there[f] = count(text)
    print(f"{'lines':>15} {'code':>17}")
    print(f"{'was':>7} {'now':>7} {'was':>8} {'now':>7}  file")
    zero = (0, 0)
    tot = [0, 0, 0, 0]
    for f in sorted(set(here) | set(there)):
        (n0, c0), (n1, c1) = there.get(f, zero), here.get(f, zero)
        tot = [tot[0] + n0, tot[1] + n1, tot[2] + c0, tot[3] + c1]
        print(f"{n0:7d} {n1:7d} {c0:8d} {c1:7d}  {f}")
    print(f"{tot[0]:7d} {tot[1]:7d} {tot[2]:8d} {tot[3]:7d}  total "
          f"(lines {tot[1] - tot[0]:+d}, code {tot[3] - tot[2]:+d})")
    return 0


if __name__ == "__main__":
    sys.exit(main())

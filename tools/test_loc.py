#!/usr/bin/env python3
"""Self-tests for tools/loc.py on inline snippets and a temp git repo.

Run: python3 tools/test_loc.py  (no JVM)
"""
import io
import os
import subprocess
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import loc  # noqa: E402

SNIPPET = """package a

/** Scaladoc
  * spans lines. */
object A {
  // a comment line
  val x = 1 // trailing comment: code
  /* one-line block */
  /* block */ val y = 2
  /* opens
  still in the block
  */ val w = 4
  val g = "dir/*"
  */
}
"""


class CountTest(unittest.TestCase):

    def test_rules(self):
        # code: package, object, x, y, w, g, the stray `*/`, the brace;
        # the glob's `/*` after code opens no block
        self.assertEqual(loc.count(SNIPPET), (15, 8))

    def test_blank_and_empty(self):
        self.assertEqual(loc.count(""), (0, 0))
        self.assertEqual(loc.count("\n   \n\t\n"), (3, 0))

    def test_block_spanning_lines_then_comment(self):
        self.assertEqual(loc.count("/*\n x\n*/ // c\nval a = 1\n"), (4, 1))


class GitTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.cwd = os.getcwd()
        os.chdir(self.tmp.name)

        def git(*args):
            subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
                           check=True, capture_output=True)
        self.git = git
        git("init", "-q")
        os.makedirs("src")
        self.write("src/Keep.scala", "object K {\n  // c\n  val a = 1\n}\n")
        self.write("src/Gone.scala", "object G\n")
        git("add", "-A")
        git("commit", "-q", "-m", "base")
        self.write("src/Keep.scala", "object K {\n  val a = 1\n  val b = 2\n\n}\n")
        os.remove("src/Gone.scala")
        self.write("src/New.scala", "/** doc */\nobject N\n")

    def tearDown(self):
        os.chdir(self.cwd)
        self.tmp.cleanup()

    @staticmethod
    def write(path, text):
        with open(path, "w") as f:
            f.write(text)

    def run_tool(self, *args):
        buf = io.StringIO()
        with redirect_stdout(buf):
            self.assertEqual(loc.main(list(args)), 0)
        return buf.getvalue().splitlines()

    def test_plain_counts(self):
        out = self.run_tool("src")
        self.assertIn("      5       4  src/Keep.scala", out)
        self.assertIn("      2       1  src/New.scala", out)
        self.assertEqual(out[-1], "      7       5  total")

    def test_against_counts_one_sided_files_as_zero(self):
        out = self.run_tool("src", "--against", "HEAD")
        rows = {line.split()[-1]: line.split()[:4] for line in out[2:-1]}
        self.assertEqual(rows["src/Keep.scala"], ["4", "5", "3", "4"])
        self.assertEqual(rows["src/Gone.scala"], ["1", "0", "1", "0"])
        self.assertEqual(rows["src/New.scala"], ["0", "2", "0", "1"])
        self.assertEqual(out[-1].split()[:4], ["5", "7", "4", "5"])
        self.assertTrue(out[-1].endswith("(lines +2, code +1)"))


if __name__ == "__main__":
    unittest.main()

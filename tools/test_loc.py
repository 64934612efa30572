"""Tests of tools/loc.py's line count.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import loc  # noqa: E402


class CountTest(unittest.TestCase):
    def test_comments_and_blank_lines_do_not_count(self):
        src = "package a\n\n// a line comment\nobject A {  // trailing\n  /* one\n     block */\n  val x = 1\n}\n"
        self.assertEqual(loc.count(src), 4)

    def test_a_comment_marker_in_a_string_is_text(self):
        src = 'object A {\n  val url = "http://x"\n  val glob = "/*"\n  val n = 1\n}\n'
        self.assertEqual(loc.count(src), 5)

    def test_every_line_of_a_triple_quoted_string_counts(self):
        src = 'object A {\n  val sql = """SELECT a /* not a comment\n    FROM t // nor this\n  """\n  val n = 1\n}\n'
        self.assertEqual(loc.count(src), 6)

    def test_nested_block_comments_and_scaladoc_close_at_the_outer_end(self):
        src = ("/** Doc with an example:\n  * {{{\n  *   /* inner */ val y = 2\n  * }}}\n  */\n"
               "object A {\n  /* outer /* inner */\n     still outer */\n  val x = 1\n}\n")
        self.assertEqual(loc.count(src), 3)

    def test_files_and_directories_sum_to_one_total(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "p"))
            for name, body in (("p/A.scala", "object A\n"), ("p/B.scala", "// x\nobject B {\n}\n"),
                               ("p/notes.txt", "not scala\n")):
                with open(os.path.join(d, name), "w", encoding="utf-8") as f:
                    f.write(body)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                self.assertEqual(loc.main([os.path.join(d, "p")]), 0)
            lines = out.getvalue().splitlines()
            self.assertEqual([l.split()[0] for l in lines], ["1", "2", "3"])
            self.assertTrue(lines[-1].endswith("total"))


if __name__ == "__main__":
    unittest.main()

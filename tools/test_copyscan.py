"""Tests of tools/copyscan.py's line rules and window count.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import copyscan  # noqa: E402

# six code lines, well over the 150-character window floor
BODY = "\n".join(f"  val column{i} = frame.select(col(\"doc_id\"), col(\"text\")).where(col(\"n\") > {i})"
                 for i in range(6))


def scan(*sources):
    """Duplicated windows over files holding the given sources."""
    with tempfile.TemporaryDirectory() as d:
        for i, src in enumerate(sources):
            with open(os.path.join(d, f"F{i}.scala"), "w", encoding="utf-8") as f:
                f.write(src)
        return copyscan.duplicated(copyscan.scala_files(d))


class WindowTest(unittest.TestCase):
    def test_code_written_twice_counts_once_with_both_places(self):
        dups = scan(f"object A {{\n{BODY}\n}}\n", f"object B {{\n\n{BODY}\n  def b = 2\n}}\n")
        self.assertEqual(len(dups), 1)
        (locs,) = dups.values()
        self.assertEqual([line for _, line in locs], [2, 3])

    def test_whitespace_and_trailing_comments_do_not_hide_a_copy(self):
        spaced = "\n".join("      " + line.strip().replace(" = ", "   =   ") + "  // note"
                           for line in BODY.split("\n"))
        self.assertEqual(len(scan(f"object A {{\n{BODY}\n}}\n", f"object B {{\n{spaced}\n  def b = 2\n}}\n")), 1)

    def test_short_windows_do_not_count(self):
        short = "\n".join(f"  f({i})" for i in range(6))
        self.assertEqual(scan(short, short), {})

    def test_a_single_copy_does_not_count(self):
        self.assertEqual(scan(f"object A {{\n{BODY}\n}}\n"), {})

    def test_a_comment_marker_inside_a_string_is_code(self):
        lines = copyscan.code_lines('val u = "file://x" // trailing\n')
        self.assertEqual(lines, [(1, 'val u = "file://x"')])


class SkipTest(unittest.TestCase):
    def test_a_duplicated_import_block_does_not_count(self):
        imports = "package graft.ops\n\n" + "\n".join(
            f"import org.apache.spark.sql.functions.{{col, lit, when, size, split, explode_{i}}}"
            for i in range(8))
        self.assertEqual(scan(imports + "\nobject A\n", imports + "\nobject B\n"), {})

    def test_a_duplicated_sql_string_does_not_count(self):
        sql = '    s"""SELECT doc_id, text, lang, source, n_chars\n' + "\n".join(
            f"       |  , CAST(len(list_filter(tok, x -> x = 'w{i}')) AS BIGINT) AS hits_{i}"
            for i in range(8)) + '\n       |FROM documents""".stripMargin'
        self.assertEqual(scan(f'object A {{\n  val a =\n{sql}\n}}\n',
                              f'object B {{\n  val b =\n{sql}\n}}\n'), {})

    def test_a_duplicated_scaladoc_block_does_not_count(self):
        doc = "  /** " + "\n".join(
            f"    * the shared reasoning about coverage windows and island breaks, line {i}"
            for i in range(8)) + "\n    */"
        self.assertEqual(scan(f"object A {{\n{doc}\n  def a = 1\n}}\n",
                              f"object B {{\n{doc}\n  def b = 2\n}}\n"), {})

    def test_line_comments_and_blank_lines_do_not_count(self):
        comments = "\n\n".join(f"  // a long explanatory comment that is repeated verbatim, part {i}"
                               for i in range(8))
        self.assertEqual(scan(comments, comments), {})


class MainTest(unittest.TestCase):
    def test_exit_status_is_one_exactly_when_a_window_is_duplicated(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "A.scala")
            with open(path, "w", encoding="utf-8") as f:
                f.write(f"object A {{\n{BODY}\n}}\n")
            self.assertEqual(copyscan.main([d]), 0)
            with open(os.path.join(d, "B.scala"), "w", encoding="utf-8") as f:
                f.write(f"object B {{\n{BODY}\n}}\n")
            self.assertEqual(copyscan.main([d]), 1)


if __name__ == "__main__":
    unittest.main()

"""Tests of tools/forkcount.py's shims and counting.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import forkcount  # noqa: E402


class CountTest(unittest.TestCase):
    def test_counts_by_first_word_with_zeros_for_silent_programs(self):
        lines = ["chmod 0644 /a\n", "readlink /a\n", "chmod 0755 /b\n", "\n"]
        self.assertEqual(forkcount.count(lines),
                         {"chmod": 2, "ls": 0, "readlink": 1, "stat": 0})

    def test_a_program_outside_the_list_is_still_counted(self):
        self.assertEqual(forkcount.count(["df /\n"], programs=("chmod",)),
                         {"chmod": 0, "df": 1})


class ForbiddenTest(unittest.TestCase):
    def test_every_readlink_and_only_checkpoint_chmods_are_forbidden(self):
        lines = ["readlink -f /usr/x\n",
                 "chmod 0644 /w/sink/_checkpoints/q/offsets/.0.tmp\n",
                 "chmod 0755 /w/sink/_checkpoints\n",
                 "chmod 0644 /w/data/events.parquet/_SUCCESS\n",
                 "chmod 0644 /w/my_checkpoints/x\n",
                 "stat /w/sink/_checkpoints/q\n",
                 "\n"]
        self.assertEqual(forkcount.forbidden(lines),
                         ["readlink -f /usr/x",
                          "chmod 0644 /w/sink/_checkpoints/q/offsets/.0.tmp",
                          "chmod 0755 /w/sink/_checkpoints"])

    def test_chmods_under_a_drain_sink_are_forbidden_and_the_check_table_is_not(self):
        lines = ["chmod 0644 /w/sink3/queue/epoch=0/part-00000-x.c000.snappy.parquet\n",
                 "chmod 0755 /w/sink12/queue_table/_staging-v1-t\n",
                 "chmod 0755 /w/sink1\n",
                 "chmod 0644 /w/data/check.parquet/part-00000-x.snappy.parquet\n",
                 "chmod 0755 /w/sink/queue\n",
                 "chmod 0755 /w/sinks2/queue\n",
                 "chmod 0755 /w/mysink2/queue\n"]
        self.assertEqual(forkcount.forbidden(lines),
                         ["chmod 0644 /w/sink3/queue/epoch=0/part-00000-x.c000.snappy.parquet",
                          "chmod 0755 /w/sink12/queue_table/_staging-v1-t",
                          "chmod 0755 /w/sink1"])


class ShimTest(unittest.TestCase):
    def test_shims_log_each_spawn_and_run_the_real_program(self):
        with tempfile.TemporaryDirectory() as d:
            log = os.path.join(d, "log")
            open(log, "w").close()
            shim_dir = os.path.join(d, "shims")
            os.mkdir(shim_dir)
            path = os.environ.get("PATH", os.defpath)
            self.assertEqual(forkcount.install_shims(shim_dir, log, path, ("chmod", "ls")),
                             ["chmod", "ls"])
            target = os.path.join(d, "it's a file")
            open(target, "w").close()
            env = dict(os.environ, PATH=shim_dir + os.pathsep + path)
            subprocess.run(["sh", "-c", 'chmod 0600 "$1"; chmod 0640 "$1"; ls "$1" >/dev/null',
                            "sh", target], env=env, check=True)
            self.assertEqual(os.stat(target).st_mode & 0o777, 0o640)
            with open(log) as f:
                lines = f.read().splitlines()
            self.assertEqual(forkcount.count(lines, ("chmod", "ls")), {"chmod": 2, "ls": 1})
            self.assertEqual(lines[0], "chmod 0600 " + target)


class MainTest(unittest.TestCase):
    def test_prints_counts_and_passes_the_exit_code_through(self):
        with tempfile.NamedTemporaryFile() as f:
            p = subprocess.run([sys.executable, os.path.join(HERE, "forkcount.py"), "--",
                                "sh", "-c", 'chmod 0600 "$1"; exit 3', "sh", f.name],
                               capture_output=True, text=True)
        self.assertEqual(p.returncode, 3)
        result = json.loads(p.stdout.splitlines()[-1])
        self.assertEqual(result["forkcount"]["chmod"], 1)
        self.assertEqual(result["total"], 1)
        self.assertEqual(result["exit"], 3)

    def test_check_fails_a_successful_command_on_a_forbidden_spawn(self):
        with tempfile.TemporaryDirectory() as d:
            os.mkdir(os.path.join(d, "_checkpoints"))
            plain, ckpt = os.path.join(d, "plain"), os.path.join(d, "_checkpoints", "offsets")
            for f in (plain, ckpt):
                open(f, "w").close()
            tool = [sys.executable, os.path.join(HERE, "forkcount.py"), "--check", "--",
                    "sh", "-c", 'chmod 0600 "$1"', "sh"]
            clean = subprocess.run(tool + [plain], capture_output=True, text=True)
            dirty = subprocess.run(tool + [ckpt], capture_output=True, text=True)
        self.assertEqual(clean.returncode, 0, clean.stderr)
        self.assertEqual(dirty.returncode, 1)
        self.assertIn("forbidden spawn: chmod 0600 " + ckpt, dirty.stderr)


if __name__ == "__main__":
    unittest.main()


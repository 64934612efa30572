#!/usr/bin/env python3
"""Count the child processes a command spawns for chosen programs.

    python3 tools/forkcount.py [--log FILE] -- <command> [args...]
    make forkcount CMD="python3 perfbench/run.py --workload connector --seed 1 --seconds 8"

Puts one logging shim per counted program (`chmod`, `readlink`, `stat`,
`ls`) first on the command's `PATH`. A shim appends its program's name and
arguments to a log, then execs the real binary found on the original
`PATH`, so the command behaves as before. Hadoop's local filesystem reaches these programs through
`PATH` when the JVM has no libhadoop: `chmod` from
`RawLocalFileSystem.setPermission`, `readlink` from `FileUtil.readLink`
(every `FileContext.rename`), `ls` and `stat` from the file-status paths.

`--log` keeps that log, one line per spawn. Prints the command's own output unchanged, then one JSON line on
standard output: `{"forkcount": {"chmod": n, "ls": n, "readlink": n, "stat": n},
"total": n, "exit": code}`. Exits with the command's exit code.

`--check` (what `make forkcheck` runs) also fails on the spawns that graft's
writes no longer make: any `readlink`, and any `chmod` of a path under a
`_checkpoints/` directory. It prints each such spawn on standard error and
exits 1 when the command itself succeeded.
"""
import argparse
import json
import os
import re
import shlex
import shutil
import subprocess
import sys
import tempfile

PROGRAMS = ("chmod", "readlink", "stat", "ls")


def shim_script(name, real, log):
    """The shell text of the shim for `name`: log one line (the program's
    name, then its arguments, which name the file it touched), exec `real`."""
    return ('#!/bin/sh\nprintf "%%s %%s\\n" %s "$*" >> %s\nexec %s "$@"\n'
            % (name, shlex.quote(log), shlex.quote(real)))


def install_shims(shim_dir, log, path, programs=PROGRAMS):
    """Write an executable shim per program found on `path` into `shim_dir`;
    returns the programs shimmed (a program missing from `path` is not)."""
    done = []
    for name in programs:
        real = shutil.which(name, path=path)
        if real is None:
            continue
        target = os.path.join(shim_dir, name)
        with open(target, "w") as f:
            f.write(shim_script(name, real, log))
        os.chmod(target, 0o755)
        done.append(name)
    return done


def count(lines, programs=PROGRAMS):
    """Spawn counts by program from the shim log's lines (the first word of
    each); every counted program appears, zero when it never ran. Blank
    lines are ignored."""
    counts = {p: 0 for p in programs}
    for line in lines:
        words = line.split()
        if words:
            counts[words[0]] = counts.get(words[0], 0) + 1
    return dict(sorted(counts.items()))


CHECKPOINT_PATH = re.compile(r"/_checkpoints(/|\s|$)")


def forbidden(lines):
    """The spawns `--check` fails on, from the shim log's lines: every
    `readlink`, and every `chmod` whose arguments name a path under a
    `_checkpoints/` directory."""
    out = []
    for line in lines:
        words = line.split()
        if words[:1] == ["readlink"] or (words[:1] == ["chmod"] and CHECKPOINT_PATH.search(line)):
            out.append(line.rstrip("\n"))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--log", help="keep the shim log at this path")
    ap.add_argument("--check", action="store_true",
                    help="exit 1 on any readlink spawn or chmod under _checkpoints/")
    ap.add_argument("command", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cmd = args.command[1:] if args.command[:1] == ["--"] else args.command
    if not cmd:
        ap.error("no command given")
    with tempfile.TemporaryDirectory(prefix="forkcount-") as shim_dir:
        log = os.path.abspath(args.log) if args.log else os.path.join(shim_dir, "spawns.log")
        open(log, "w").close()
        path = os.environ.get("PATH", os.defpath)
        programs = install_shims(shim_dir, log, path)
        env = dict(os.environ, PATH=shim_dir + os.pathsep + path)
        code = subprocess.call(cmd, env=env)
        with open(log) as f:
            lines = f.readlines()
    counts = count(lines, programs)
    print(json.dumps({"forkcount": counts, "total": sum(counts.values()), "exit": code}))
    bad = forbidden(lines) if args.check else []
    for line in bad:
        print("forkcount: forbidden spawn: " + line, file=sys.stderr)
    return code or (1 if bad else 0)


if __name__ == "__main__":
    sys.exit(main())

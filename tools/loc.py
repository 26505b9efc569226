#!/usr/bin/env python3
"""Count src/main lines and list the environment variables it reads.

Usage: python3 tools/loc.py [REPO_ROOT]

Per Scala file under src/main, and in total, prints the raw line count
and the code line count. A code line is any line that, stripped of
leading whitespace, is not empty and does not start with `*`, `/**` or
`//` (scaladoc bodies, scaladoc openers and line comments). Then lists
every environment variable src/main reads by a literal name
(`sys.env…("X")`, `System.getenv("X")`), with the files that read it,
and how many `localCheckpoint` and `createTempDirectory` calls its code
lines make (a mention in a comment is not a call).
"""
import os
import re
import sys

ENV_READ = re.compile(
    r'(?:sys\.env(?:\.get|\.getOrElse|\.contains)?|System\.getenv)'
    r'\(\s*"([A-Z0-9_]+)"')
CALLS = {name: re.compile(r'\b' + name + r'\(')
         for name in ("localCheckpoint", "createTempDirectory")}


def is_code(line):
    s = line.strip()
    return bool(s) and not s.startswith(("*", "/**", "//"))


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    main_dir = os.path.join(root, "src", "main")
    rows, env = [], {}
    calls = dict.fromkeys(CALLS, 0)
    for d, _, files in os.walk(main_dir):
        for f in files:
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, main_dir)
            with open(path, encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            rows.append((rel, len(lines), sum(map(is_code, lines))))
            for line in lines:
                for name in ENV_READ.findall(line):
                    env.setdefault(name, set()).add(rel)
                if is_code(line):
                    for name, call in CALLS.items():
                        calls[name] += len(call.findall(line))
    rows.sort()
    width = max((len(r[0]) for r in rows), default=5)
    print(f"{'file':<{width}}  {'raw':>6}  {'code':>6}")
    for rel, raw, code in rows:
        print(f"{rel:<{width}}  {raw:>6}  {code:>6}")
    print(f"{'total':<{width}}  {sum(r[1] for r in rows):>6}  "
          f"{sum(r[2] for r in rows):>6}")
    print()
    print(f"env vars read in src/main: {len(env)}")
    for name in sorted(env):
        print(f"  {name}: {', '.join(sorted(env[name]))}")
    print()
    print("calls in src/main:")
    for name, n in calls.items():
        print(f"  {name}: {n}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Net line count of a change to the main Scala sources.

Usage: python3 scripts/netloc.py <base-rev> [<rev>]

For every `src/main/**/*.scala` file that differs between <base-rev> and
<rev> (default: the working tree, untracked files included), prints the
physical-line delta and the code-line delta, then the totals. A code line
is a line with at least one character outside comments and whitespace;
string literals are code, so a `//` inside a string does not start a
comment.
"""
import subprocess
import sys

PREFIX = "src/main/"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def content(rev, path):
    """File text at `rev` (None = working tree); '' when absent."""
    if rev is None:
        try:
            with open(path, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return ""
    r = subprocess.run(["git", "show", f"{rev}:{path}"],
                       capture_output=True, text=True)
    return r.stdout if r.returncode == 0 else ""


def code_lines(text):
    """Count lines holding code outside comments (Scala lexical rules:
    nested block comments, plain, triple-quoted and char literals)."""
    n, depth, i, in_str, has_code = 0, 0, 0, None, False
    L = len(text)
    while i < L:
        c = text[i]
        if c == "\n":
            n += has_code
            has_code = False
            i += 1
            continue
        if depth:  # inside a (possibly nested) block comment
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
            continue
        if in_str == '"""':
            has_code = has_code or not c.isspace()
            if text.startswith('"""', i):
                in_str, i = None, i + 3
            else:
                i += 1
            continue
        if in_str == '"':
            has_code = True
            if c == "\\":
                i += 2
            else:
                in_str = None if c == '"' else in_str
                i += 1
            continue
        if text.startswith("//", i):
            while i < L and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth, i = 1, i + 2
            continue
        if text.startswith('"""', i):
            in_str, has_code, i = '"""', True, i + 3
            continue
        if c == '"':
            in_str, has_code, i = '"', True, i + 1
            continue
        if c == "'" and i + 2 < L and (text[i + 2] == "'" or
                                       text[i + 1] == "\\"):
            # char literal ('x' or an escape like '\n'); a lone quote is
            # a symbol literal or a type-variance marker — plain code
            end = i + 2 if text[i + 1] != "\\" else text.find("'", i + 3)
            has_code, i = True, (end + 1 if end != -1 else i + 1)
            continue
        has_code = has_code or not c.isspace()
        i += 1
    return n + has_code


def physical_lines(text):
    return text.count("\n") + (1 if text and not text.endswith("\n") else 0)


def changed_files(base, rev):
    spec = ["--", f"{PREFIX}*.scala", f"{PREFIX}**/*.scala"]
    if rev is None:
        files = git("diff", "--name-only", base, *spec).split()
        files += git("ls-files", "--others", "--exclude-standard",
                     *spec).split()
    else:
        files = git("diff", "--name-only", base, rev, *spec).split()
    return sorted(set(files))


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip())
    base, rev = argv[1], (argv[2] if len(argv) == 3 else None)
    rows, tot_phys, tot_code = [], 0, 0
    for path in changed_files(base, rev):
        old, new = content(base, path), content(rev, path)
        dp = physical_lines(new) - physical_lines(old)
        dc = code_lines(new) - code_lines(old)
        rows.append((path, dp, dc))
        tot_phys, tot_code = tot_phys + dp, tot_code + dc
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'file':<{width}}  {'physical':>9}  {'code':>7}")
    for path, dp, dc in rows:
        print(f"{path:<{width}}  {dp:>+9d}  {dc:>+7d}")
    print(f"{'total':<{width}}  {tot_phys:>+9d}  {tot_code:>+7d}")


if __name__ == "__main__":
    main(sys.argv)

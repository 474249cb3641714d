#!/usr/bin/env python3
"""Count substantive lines of the main Scala sources.

Usage:
    python3 tools/sloc.py [ROOT]
    python3 tools/sloc.py BEFORE AFTER

A substantive line holds code: it is neither blank nor wholly inside a
comment (`// ...` line comments, `/* ... */` and `/** ... */` blocks).
String literals, triple-quoted ones included, are code, so a `//` or `/*`
inside a string opens no comment. With one root, prints one
`<lines>  <path>` row per file under ROOT (default `src/main`, relative to
the repo root), then the total. With two roots (say `src/main` of two
checkouts), prints one `<before> -> <after>  <change>  <path>` row per file
under either root (0 where a file is absent), then the totals.
"""
import os
import sys


def substantive(text):
    """Number of lines with at least one code character outside comments."""
    count = 0
    has_code = False
    block = 0  # nesting depth of /* */ comments (Scala nests them)
    in_str = None  # None, '"' or '"""'
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == '\n':
            if has_code:
                count += 1
            has_code = False
            i += 1
            continue
        if block:
            if text.startswith('/*', i):
                block += 1
                i += 2
            elif text.startswith('*/', i):
                block -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str:
            has_code = has_code or not c.isspace()
            if in_str == '"""' and text.startswith('"""', i):
                in_str = None
                i += 3
            elif in_str == '"' and c == '\\':
                i += 2
            elif in_str == '"' and c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith('//', i):
            j = text.find('\n', i)
            i = n if j < 0 else j
            continue
        if text.startswith('/*', i):
            block = 1
            i += 2
            continue
        if text.startswith('"""', i):
            in_str = '"""'
            has_code = True
            i += 3
            continue
        if c == '"':
            in_str = '"'
            has_code = True
            i += 1
            continue
        if c == "'" and i + 2 < n and text[i + 2] == "'":
            # a char literal such as '"' or '/' opens nothing
            has_code = True
            i += 3
            continue
        if not c.isspace():
            has_code = True
        i += 1
    if has_code:
        count += 1
    return count


def counts(root):
    """{path relative to root: substantive lines} for every source file."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith('.scala') or f.endswith('.java'):
                p = os.path.join(d, f)
                with open(p, encoding='utf-8') as fh:
                    out[os.path.relpath(p, root)] = substantive(fh.read())
    return out


def main():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if len(sys.argv) > 2:
        before, after = counts(sys.argv[1]), counts(sys.argv[2])
        for path in sorted(set(before) | set(after)):
            b, a = before.get(path, 0), after.get(path, 0)
            print(f'{b:6d} -> {a:6d}  {a - b:+6d}  {path}')
        b, a = sum(before.values()), sum(after.values())
        print(f'{b:6d} -> {a:6d}  {a - b:+6d}  total')
        return
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, 'src', 'main')
    rows = counts(root)
    for path in sorted(rows):
        print(f'{rows[path]:6d}  {path}')
    print(f'{sum(rows.values()):6d}  total')


if __name__ == '__main__':
    main()

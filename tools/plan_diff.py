#!/usr/bin/env python3
"""Compare two `graft.PlanDump` outputs after normalizing run-specific tokens.

Usage:
    python3 tools/plan_diff.py BEFORE.txt AFTER.txt

Each input is the stdout of
    SPARK_GRAFT_PLAN_EXEC=0 sbt -batch "runMain graft.PlanDump q1 q2 ..."
(raw PlanDump stdout works too). Lines before the first `######## <query>`
marker, sbt log lines other than `[info]`, and the `[info] ` prefix are
dropped. Then, in every line:

  - expression ids `#123`         become `#N`;
  - exchange ids `plan_id=123`    become `plan_id=N` (a JVM-wide counter
    that the plans of the seeding writes also advance, so two runs of the
    same code can differ in it);
  - temp dirs `graft-conn123...`  become `graft-*`;
  - UUIDs                         become `<uuid>`.

Everything else, scan `description()` strings included, must match byte for
byte. Prints one unified diff per query that differs and a summary line;
exits 0 when every query is identical, 1 otherwise.
"""
import difflib
import re
import sys

MARKER = "######## "
SBT_PREFIX = re.compile(r"^\[(info|warn|error|success|debug)\] ?")
EXPR_ID = re.compile(r"#\d+")
PLAN_ID = re.compile(r"plan_id=\d+")
TEMP_DIR = re.compile(r"graft-[A-Za-z_]*-?\d+")
UUID = re.compile(
    r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}")


def normalize(line):
    line = EXPR_ID.sub("#N", line)
    line = PLAN_ID.sub("plan_id=N", line)
    line = TEMP_DIR.sub("graft-*", line)
    return UUID.sub("<uuid>", line)


def sections(path):
    """Ordered {query name: [normalized plan lines]} of one dump."""
    out, current = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            raw = raw.rstrip("\n")
            m = SBT_PREFIX.match(raw)
            if m and m.group(1) != "info":
                continue
            line = raw[m.end():] if m else raw
            if line.startswith(MARKER):
                current = line[len(MARKER):].strip()
                out[current] = []
            elif current is not None:
                out[current].append(normalize(line))
    # trailing blank lines are layout, not plan
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    before, after = sections(argv[1]), sections(argv[2])
    differing = []
    for name in list(before) + [n for n in after if n not in before]:
        if name not in after or name not in before:
            side = argv[2] if name not in after else argv[1]
            print(f"{name}: missing from {side}")
            differing.append(name)
        elif before[name] != after[name]:
            differing.append(name)
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                before[name], after[name], f"{argv[1]}:{name}",
                f"{argv[2]}:{name}", lineterm=""))
    total = len(set(before) | set(after))
    print(f"plan_diff: {total - len(differing)}/{total} queries identical"
          + (f"; differ: {', '.join(differing)}" if differing else ""))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

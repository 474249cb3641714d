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
  - UUIDs                         become `<uuid>`;
  - JVM identity hashes `[J@1f4e` become `[J@<id>`, and lambda class
    names `$$Lambda$7055/0x00..`  become `$$Lambda` (array and closure
    literals print them, and they change from run to run).

Everything else, scan `description()` strings included, must match byte for
byte. Prints one unified diff per query that differs, each followed by the
query's exchange counts on both sides when they differ, and its pushed-part
counts when they differ; then one line per side with its exchange counts
over all queries (range, hash and single partitioning shuffles, broadcasts;
an executed dump counts its final plan only), one line per side with its
pushed-part counts, and a summary line. Exits 0 when every query is
identical, 1 otherwise.

A pushed part is a `Pushed*:` label other than the `PushedQuery:` head, or
the `UnwoundTails` marker, counted over every graft scan description line
(either spelling: `graftbson path=...`, `graftserver ns=...`, and the older
`GraftScan PushedQuery: ...`). A change that only re-spells descriptions
shows identical part counts.

Only dumps taken with SPARK_GRAFT_PLAN_EXEC=0 repeat from run to run. An
executed dump prints the final adaptive plan, whose broadcast build sides
can differ between two runs of the same code.
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
IDENTITY = re.compile(r"(?<=[\w\[;$])@[0-9a-f]+\b")
LAMBDA = re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+")
EXCHANGE_NODE = re.compile(r"\b(Exchange|BroadcastExchange) \((\d+)\)")
DETAIL_HEAD = re.compile(r"^\((\d+)\) ")
KINDS = (("range", "rangepartitioning"), ("hash", "hashpartitioning"),
         ("single", "SinglePartition"))
DESCRIPTION = re.compile(r"^(GraftScan PushedQuery: |graft\w+ (path|ns)=)")
PART = re.compile(r"\b(Pushed(?!Query:)[A-Z]\w*):|\b(UnwoundTails)\b")


def normalize(line):
    line = EXPR_ID.sub("#N", line)
    line = PLAN_ID.sub("plan_id=N", line)
    line = TEMP_DIR.sub("graft-*", line)
    line = LAMBDA.sub("$$Lambda", line)
    line = IDENTITY.sub("@<id>", line)
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


def exchanges(lines):
    """Exchange counts by kind of one query's FormattedMode plan."""
    first_detail = next((i for i, l in enumerate(lines) if DETAIL_HEAD.match(l)),
                        len(lines))
    tree, args, current = lines[:first_detail], {}, None
    for line in lines[first_detail:]:
        m = DETAIL_HEAD.match(line)
        if m:
            current = m.group(1)
        elif current and line.startswith("Arguments: "):
            args[current] = line[len("Arguments: "):]
    final = [i for i, l in enumerate(tree) if "== Final Plan ==" in l]
    if final:
        end = next((i for i, l in enumerate(tree) if "== Initial Plan ==" in l), len(tree))
        tree = tree[final[0]:end]
    counts = dict.fromkeys([k for k, _ in KINDS] + ["broadcast"], 0)
    for line in tree:
        for node, nid in EXCHANGE_NODE.findall(line):
            if node == "BroadcastExchange":
                counts["broadcast"] += 1
            else:
                kind = next((k for k, a in KINDS if args.get(nid, "").startswith(a)), None)
                if kind:
                    counts[kind] += 1
    return counts


def parts(lines):
    """Pushed-part counts of one query's graft scan descriptions."""
    counts = {}
    for line in lines:
        if DESCRIPTION.match(line):
            for pushed, tails in PART.findall(line):
                counts[pushed or tails] = counts.get(pushed or tails, 0) + 1
    return counts


def show(counts):
    return " ".join(f"{k}={v}" for k, v in counts.items())


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
            b, a = exchanges(before[name]), exchanges(after[name])
            if b != a:
                print(f"{name}: exchanges {show(b)} -> {show(a)}")
            b, a = parts(before[name]), parts(after[name])
            if b != a:
                print(f"{name}: pushed parts {show(dict(sorted(b.items())))} -> "
                      f"{show(dict(sorted(a.items())))}")
    for path, side in ((argv[1], before), (argv[2], after)):
        total = dict.fromkeys(exchanges([]), 0)
        for lines in side.values():
            for k, v in exchanges(lines).items():
                total[k] += v
        print(f"exchanges {path}: {show(total)}")
    for path, side in ((argv[1], before), (argv[2], after)):
        total = {}
        for lines in side.values():
            for k, v in parts(lines).items():
                total[k] = total.get(k, 0) + v
        print(f"pushed parts {path}: {show(dict(sorted(total.items())))}")
    total = len(set(before) | set(after))
    print(f"plan_diff: {total - len(differing)}/{total} queries identical"
          + (f"; differ: {', '.join(differing)}" if differing else ""))
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

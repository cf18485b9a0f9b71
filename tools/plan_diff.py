#!/usr/bin/env python3
"""Compare two runs of the engine's plan or oracle dumps, query by query
(dev tooling only; standard library only).

Usage:
  python3 tools/plan_diff.py explain [--expr-ids] [--show N] <a.txt> <b.txt>
  python3 tools/plan_diff.py oracle [--show N] <a/oracle_sql.json> <b/oracle_sql.json>

explain: each input is the captured stdout+stderr of
  `sbt 'runMain graft.Explain <sfDir> [query ...]'`. The text is cut into
  one section per `========== <query> ==========` header. Lines that are
  not plan text (sbt `[info]`-style lines, Spark log lines, the log4j
  banner) are dropped, and run-specific tokens are masked: `plan_id=N`,
  `[id=#N]`, JVM lambda class names and identity hashes
  (`$$Lambda$N/0x…@…`, `Class@1a2b3c`). With --expr-ids, expression ids
  (`name#123`, `name#123L`) are masked too; without it they are compared
  as they stand, which reads "identical" only when both runs allocated ids
  in the same order.

oracle: each input is the `oracle_sql.json` that `graft.Verify` writes
  (query name -> DuckDB SQL); entries are compared byte for byte.

Both modes print one `DIFF <query>` line per differing section (followed by
up to N lines of unified diff with --show N), `ONLY_A`/`ONLY_B` lines for
queries present on one side, and a last line `identical: X/Y`, where Y
counts the queries present on either side. Exit status: 0 when every
query is identical, 1 otherwise.
"""
import difflib
import json
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
LOG_LINE = re.compile(
    r"^(\[(info|warn|error|success|debug)\] "
    r"|\d\d/\d\d/\d\d \d\d:\d\d:\d\d (TRACE|DEBUG|INFO|WARN|ERROR) "
    r"|Using Spark's default log4j profile)")
MASKS = [
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[id=#\d+\]"), "[id=#N]"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"\$Lambda/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(?<=[A-Za-z0-9_$])@[0-9a-f]{5,8}\b"), "@H"),
]
EXPR_ID = (re.compile(r"(?<=[A-Za-z0-9_)`])#\d+L?\b"), "#N")


def explain_sections(path, expr_ids):
    masks = MASKS + ([EXPR_ID] if expr_ids else [])
    sections, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                sections[name] = []
                continue
            if name is None or LOG_LINE.match(line):
                continue
            for rx, rep in masks:
                line = rx.sub(rep, line)
            sections[name].append(line)
    # trailing blank lines differ with the log lines that followed them
    return {k: "\n".join(v).strip("\n") for k, v in sections.items()}


def oracle_entries(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def compare(a, b, show):
    names = sorted(set(a) | set(b))
    same = 0
    for n in names:
        if n not in b:
            print(f"ONLY_A {n}")
        elif n not in a:
            print(f"ONLY_B {n}")
        elif a[n] == b[n]:
            same += 1
        else:
            print(f"DIFF {n}")
            if show:
                diff = difflib.unified_diff(a[n].splitlines(), b[n].splitlines(),
                                            "a", "b", lineterm="", n=0)
                for i, d in enumerate(diff):
                    if i >= show:
                        break
                    print("    " + d)
    print(f"identical: {same}/{len(names)}")
    return 0 if same == len(names) else 1


def main(argv):
    args = list(argv)
    show, expr_ids = 0, False
    if "--expr-ids" in args:
        args.remove("--expr-ids")
        expr_ids = True
    if "--show" in args:
        i = args.index("--show")
        show = int(args[i + 1])
        del args[i:i + 2]
    if len(args) != 3 or args[0] not in ("explain", "oracle"):
        print(__doc__, file=sys.stderr)
        return 2
    mode, pa, pb = args
    if mode == "explain":
        a, b = explain_sections(pa, expr_ids), explain_sections(pb, expr_ids)
    else:
        if expr_ids:
            print("--expr-ids applies to explain only", file=sys.stderr)
            return 2
        a, b = oracle_entries(pa), oracle_entries(pb)
    return compare(a, b, show)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

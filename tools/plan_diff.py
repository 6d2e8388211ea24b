#!/usr/bin/env python3
"""Diff two `graft.Explain` outputs key by key, after masking run-dependent ids.

Usage:
  python3 tools/plan_diff.py BEFORE.txt AFTER.txt [--stats BEFORE.tsv AFTER.tsv] [--diff]

BEFORE/AFTER hold `explain("formatted")` sections headed
`========== <key> ==========`, as `sbt "runMain graft.Explain k1,k2,..."`
prints them; sbt's `[info]`-style lines and Spark's log4j lines are ignored.
Masked before comparing: expression ids (`#123`), lambda variables (`x_12`),
RDD ids, exchange `plan_id`s, `*.scala` call-site line numbers, testdata
and temp-dir paths, and the 8-hex-digit suffixes of generated manifest tags.

Prints one markdown row per key present in either file: whether the masked
plans are text-identical, and the Exchange and BroadcastExchange node counts
before -> after. `--stats` adds jobs and result columns from two
tab-separated files of `key, jobs, rows, result hash` lines. `--diff` prints
a unified diff of every key whose plan differs. Exits 1 when any key's plan,
counts or result differs, or a key is missing from one side.
"""
import argparse
import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(file:)?/[^\s\[\],]*/testdata/"), "<testdata>/"),
    (re.compile(r"(file:)?/tmp/([A-Za-z_-]*?)\d+"), r"<tmp>/\2"),
    (re.compile(r"_[0-9a-f]{8}(?![0-9A-Za-z])"), "_<hex>"),
]
HEADER = re.compile(r"^========== (\S+) ==========$")
LOG = re.compile(r"^(\[(info|warn|success|error)\]|\d\d/\d\d/\d\d \d\d:\d\d:\d\d [A-Z]+ )")


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def sections(path):
    """{key: masked plan text} of one Explain output."""
    plans, key, lines = {}, None, []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if LOG.match(line):
                continue
            m = HEADER.match(line)
            if m:
                if key is not None:
                    plans[key] = mask("\n".join(lines).strip())
                key, lines = m.group(1), []
            elif key is not None:
                lines.append(line)
    if key is not None:
        plans[key] = mask("\n".join(lines).strip())
    return plans


def count(pattern, plan):
    return len(set(re.findall(pattern, plan)))


def exchanges(plan):
    return (count(r"(?<![A-Za-z])Exchange \((\d+)\)", plan),
            count(r"\bBroadcastExchange \((\d+)\)", plan))


def stats(path):
    out = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) == 4:
                out[parts[0]] = (int(parts[1]), int(parts[2]), parts[3])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--stats", nargs=2, metavar=("BEFORE_TSV", "AFTER_TSV"))
    ap.add_argument("--diff", action="store_true")
    args = ap.parse_args()

    before, after = sections(args.before), sections(args.after)
    sb, sa = (stats(args.stats[0]), stats(args.stats[1])) if args.stats else ({}, {})
    head = "| key | masked plan | Exchange | BroadcastExchange |"
    rule = "|---|---|---|---|"
    if args.stats:
        head += " jobs | result |"
        rule += "---|---|"
    print(head)
    print(rule)
    bad, diffs = 0, []
    for key in sorted(set(before) | set(after)):
        if key not in before or key not in after:
            print(f"| `{key}` | missing {'before' if key not in before else 'after'} | | |"
                  + (" | |" if args.stats else ""))
            bad += 1
            continue
        same = before[key] == after[key]
        (eb, bb), (ea, ba) = exchanges(before[key]), exchanges(after[key])
        row = f"| `{key}` | {'identical' if same else 'DIFFERS'} | {eb} → {ea} | {bb} → {ba} |"
        ok = same and eb == ea and bb == ba
        if args.stats:
            jb, rb, hb = sb.get(key, (None, None, None))
            ja, ra, ha = sa.get(key, (None, None, None))
            result = (f"identical ({ra} rows)" if hb is not None and hb == ha
                      else f"DIFFERS ({rb} → {ra} rows)")
            row += f" {jb} → {ja} | {result} |"
            ok = ok and hb is not None and hb == ha and jb == ja
        print(row)
        if not ok:
            bad += 1
        if args.diff and not same:
            diffs.extend(difflib.unified_diff(
                before[key].splitlines(), after[key].splitlines(),
                f"{key} (before)", f"{key} (after)", lineterm=""))
    keys = set(before) | set(after)
    print(f"\n{len(keys) - bad}/{len(keys)} keys unchanged")
    if diffs:
        print("\n".join(diffs))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()

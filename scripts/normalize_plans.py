#!/usr/bin/env python3
"""Normalise `graft.Probe <names> <sfDir> runs=0` plan dumps so two runs diff.

Usage:
  python3 scripts/normalize_plans.py PROBE.log            # normalised text on stdout
  python3 scripts/normalize_plans.py OLD.log NEW.log      # queries whose plans differ
  python3 scripts/normalize_plans.py OLD.log NEW.log -v   # ... with a unified diff each

PROBE.log is the captured sbt output (stdout and stderr) of, e.g.,
  sbt -batch "runMain graft.Probe q01_filter_numeric,q02_filter_string_eq <sfDir> runs=0"
Log lines from sbt and Spark are dropped. What changes from run to run
with the same plan is replaced by a placeholder: expression ids, plan ids,
exchange ids, RDD ids, object hashes, lambda names, source line numbers,
temp-dir and data-file names, and timings. With two logs, each query's
normalised plan is compared and the differing query names are printed;
the exit status is 1 when any differ.
"""
import difflib
import re
import sys

SECTION = re.compile(r"^\[probe\] (\S+) construct: ")
# sbt's own lines: build banner, compile warnings, task summary
SBT_NOISE = re.compile(
    r"^(welcome to sbt|loading |set current project|Executing in batch|"
    r"compiling \d+ |done compiling|running |Total time|Resolving )")

SUBS = [
    (re.compile(r"construct: [0-9.]+ s"), "construct: <t> s"),
    (re.compile(r"plan_id=\d+"), "plan_id=<n>"),
    (re.compile(r"\[id=#\d+\]"), "[id=#<n>]"),
    (re.compile(r"#\d+L?\b"), "#<n>"),
    (re.compile(r"(RDD|rdd)\[\d+\]"), r"\1[<n>]"),
    (re.compile(r"\$\$Lambda[$/0-9a-zA-Z]*"), "$$Lambda<n>"),
    (re.compile(r"\$anonfun\$[\w$]*\$\d+"), "$anonfun<n>"),
    (re.compile(r"(?<=\S)@[0-9a-f]{4,}\b"), "@<hash>"),
    (re.compile(r"\.scala:\d+"), ".scala:<line>"),
    (re.compile(r"/tmp/[\w.-]*?-\d+"), "/tmp/<dir>"),
    (re.compile(r"/tmp/(spark|blockmgr)-[0-9a-f-]+"), r"/tmp/\1-<uuid>"),
    # data dirs: v<n>_<uuid8>, plus compact's run suffix (_c<i>) before or after it
    (re.compile(r"\bv(\d{5})_(c\d+_)?[0-9a-f]{8}(_c\d+)?"), r"v\1_<dir>"),
    (re.compile(r"part-\d+-[0-9a-f-]{36}(-c\d+)?"), "part-<uuid>"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"), "<uuid>"),
]


def normalise(path):
    """{query name: [normalised plan lines]} in log order."""
    plans, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif line.startswith(("[error]", "[warn]", "[success]")) or line.startswith("EXIT "):
                continue  # stderr (Spark's log4j), compiler warnings, sbt summary
            if SBT_NOISE.match(line):
                continue
            m = SECTION.match(line)
            if m:
                cur = m.group(1)
                plans[cur] = []
            if cur is None:
                continue
            for pat, rep in SUBS:
                line = pat.sub(rep, line)
            plans[cur].append(line)
    return plans


def main(argv):
    args = [a for a in argv if a != "-v"]
    verbose = "-v" in argv
    if len(args) == 1:
        for name, lines in normalise(args[0]).items():
            print("\n".join(lines))
        return 0
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = normalise(args[0]), normalise(args[1])
    differ = []
    for name in sorted(set(old) | set(new)):
        a, b = old.get(name), new.get(name)
        if a == b:
            continue
        differ.append(name)
        if verbose:
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in a or []], [l + "\n" for l in b or []],
                f"old/{name}", f"new/{name}", n=2))
    print(f"queries={len(set(old) | set(new))} differ={len(differ)}"
          + (": " + " ".join(differ) if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Mask the run-specific parts of `graft.Explain` plan dumps so two dumps of
the same plans compare equal.

    python3 tools/mask_plans.py DUMP          print DUMP masked
    python3 tools/mask_plans.py OLD NEW       compare two dumps query by query

Two dumps of unchanged code differ in JVM-global counters and run-time
names, none of which is plan shape: expression ids (`#123`), `plan_id=`,
RDD ids (`MapPartitionsRDD[139]`), the suffix of generated lambda variable
names (`lambda x_9`), lambda class addresses (`$$Lambda/0x...@1a2b3c`)
and the timestamp in temp-directory names (`/tmp/..._local_1760000000000`).
Each becomes a fixed token. Comparing prints one line per query whose
masked plan differs, or is missing from one dump, then a unified diff of
each such query, and exits 1 if any differs.
"""

import difflib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(lambda [A-Za-z]\w*?)_\d+\b"), r"\1_N"),
    (re.compile(r"Lambda(\$\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?"), "Lambda@ADDR"),
    (re.compile(r"(/tmp/[^\s,\])]*?)\d{10,}"), r"\1TS"),
]

HEADER = re.compile(r"^=+ (\S+) =+$")


def mask(text):
    for pattern, token in MASKS:
        text = pattern.sub(token, text)
    return text


def sections(text):
    """Query name -> that query's lines of the dump, masked."""
    out, name = {}, None
    for line in mask(text).splitlines():
        m = HEADER.match(line)
        if m:
            name = m.group(1)
            out[name] = []
        elif name is not None:
            out[name].append(line)
    return out


def compare(old_path, new_path):
    with open(old_path) as f:
        old = sections(f.read())
    with open(new_path) as f:
        new = sections(f.read())
    differ = []
    for name in sorted(set(old) | set(new)):
        if name not in old or name not in new:
            print(f"{name}: only in {old_path if name in old else new_path}")
            differ.append(name)
        elif old[name] != new[name]:
            print(f"{name}: masked plans differ")
            differ.append(name)
    for name in differ:
        if name in old and name in new:
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                old[name], new[name], f"{old_path} {name}",
                f"{new_path} {name}", lineterm=""))
    print(f"{len(set(old) & set(new))} queries in both dumps, "
          f"{len(differ)} differ after masking")
    return 1 if differ else 0


def main(argv):
    if len(argv) == 2:
        with open(argv[1]) as f:
            sys.stdout.write(mask(f.read()))
        return 0
    if len(argv) == 3:
        return compare(argv[1], argv[2])
    sys.stderr.write(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv))

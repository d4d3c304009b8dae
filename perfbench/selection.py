#!/usr/bin/env python3
"""Re-derive the query_mix entry list from a bench record.

    python3 perfbench/selection.py [BENCH_LOCAL.json]

Pack membership comes from the query packs' sources
(`src/main/scala/graft/queries/*Queries.scala`, one `object` per file,
entries declared as `Q("name", ...)`). Per pack the rule ranks entries by
their time in the record and takes the median (the lower one for an
even count) and the slowest. query_mix runs the medians; the slowest
column is printed for reference.
"""
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
from metrics import select_entries  # noqa: E402


def packs_from_sources(root=ROOT):
    packs = {}
    for f in sorted(glob.glob(os.path.join(root, "src/main/scala/graft/queries/*Queries.scala"))):
        with open(f) as fh:
            text = fh.read()
        obj = re.search(r"^object\s+(\w+)", text, re.MULTILINE)
        if obj:
            packs[obj.group(1)] = re.findall(r'\bQ\(\s*"([^"]+)"', text)
    return packs


def bench_times(path):
    with open(path) as f:
        return json.load(f)["queries"]


if __name__ == "__main__":
    record = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "BENCH_LOCAL.json")
    for pack, (med, slow) in sorted(select_entries(bench_times(record), packs_from_sources()).items()):
        print(f"{pack:24s} median {med:32s} slowest {slow}")

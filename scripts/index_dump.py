#!/usr/bin/env python3
"""Canonical dump of an index directory written by graft.index.IndexBuilder.

    scripts/index_dump.py DIR              print DIR's dump
    scripts/index_dump.py --diff A B       compare two indexes; exit 1 on any difference

The dump is one line per fact, in an order that does not depend on how the
build partitioned its output: the lexicon rows sorted; each shard's norms
blob in hex; the segment rows sorted by (shard, term, salt) with every
block's bytes in hex; the docs rows sorted by docId; the `_hot_terms` lines;
the manifest's fields, parsed and sorted by key; and the sums of the terms,
postings and bytes columns of metrics/ (per-partition rows and elapsed times
depend on the partitioning and the host, so only the sums are compared).
Two builds that write the same index print the same dump.
"""
import argparse
import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def rows(index_dir, part):
    path = os.path.join(index_dir, part)
    if not os.path.isdir(path):
        return None
    return pq.read_table(path).to_pylist()


def plain(v):
    """A parquet cell with its bytes in hex."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [plain(x) for x in v]
    return v


def value(v):
    """A parquet cell as stable text: JSON, keys sorted, bytes in hex."""
    return json.dumps(plain(v), sort_keys=True, ensure_ascii=False, default=str)


def dump(index_dir):
    out = []
    lexicon = rows(index_dir, "lexicon") or []
    for r in sorted(lexicon, key=lambda r: (r["term"], r["df"], r["cf"])):
        out.append(f"lexicon {value(r['term'])} df={r['df']} cf={r['cf']} rev={value(r['rev'])}")

    norms = rows(index_dir, "norms") or []
    for r in sorted(norms, key=lambda r: (r["shard"], r["norms"])):
        out.append(f"norms shard={r['shard']} {plain(r['norms'])}")

    segments = rows(index_dir, "segments") or []
    for r in sorted(segments, key=lambda r: (r["shard"], r["term"], r["salt"])):
        out.append(f"segment shard={r['shard']} term={value(r['term'])} salt={r['salt']} "
                   f"df={r['df']} cf={r['cf']} blocks={len(r['blocks'])}")
        for b in r["blocks"]:
            out.append(f"  block first={b['firstDoc']} last={b['lastDoc']} n={b['n']} "
                       f"maxTf={b['maxTf']} {plain(b['data'])}")

    docs = rows(index_dir, "docs") or []
    for _, line in sorted((r["docId"], value(r)) for r in docs):
        out.append(f"doc {line}")

    hot_path = os.path.join(index_dir, "_hot_terms")
    if os.path.exists(hot_path):
        with open(hot_path, encoding="utf-8") as f:
            out.extend(f"hot_term {value(t)}" for t in f.read().split("\n") if t)

    manifest_path = os.path.join(index_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path, encoding="utf-8") as f:
            manifest = json.load(f)
        out.extend(f"manifest {k}={value(manifest[k])}" for k in sorted(manifest))

    metrics = rows(index_dir, "metrics")
    if metrics is not None:
        for col in ("terms", "postings", "bytes"):
            out.append(f"metrics sum({col})={sum(r[col] for r in metrics)}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--diff", action="store_true", help="compare two index directories")
    ap.add_argument("dirs", nargs="+")
    args = ap.parse_args()
    if args.diff:
        if len(args.dirs) != 2:
            ap.error("--diff takes two index directories")
        a, b = (dump(d) for d in args.dirs)
        if a == b:
            print(f"same: {len(a)} lines")
            return 0
        # lines one side has more often than the other, in dump order: linear
        # in the dump, where a line diff of two large unlike dumps is not
        extra_a, extra_b = Counter(a) - Counter(b), Counter(b) - Counter(a)
        diff = [f"-{line}" for line in dict.fromkeys(a) if line in extra_a] + \
               [f"+{line}" for line in dict.fromkeys(b) if line in extra_b]
        print(f"--- {args.dirs[0]}\n+++ {args.dirs[1]}")
        print("\n".join(diff[:60]))
        if len(diff) > 60:
            print(f"... {len(diff) - 60} more diff lines")
        if not diff:
            print("same lines in another order")
        return 1
    if len(args.dirs) != 1:
        ap.error("give one index directory, or --diff A B")
    sys.stdout.write("".join(line + "\n" for line in dump(args.dirs[0])))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-test of the benchmark's input generators (no Spark):

- the same seed gives byte-identical tables for every workload;
- a different seed gives different tables;
- every generated document decodes in-process to its expected text, and
  every planted hostile payload to its expected status;
- the planted dedup structure holds under the generator's own MinHash.

    python3 perfbench/selftest.py      # from the root of a checkout
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path[:0] = [os.getcwd(), os.path.dirname(os.path.abspath(__file__))]

import gen  # noqa: E402


def _digest(tables: dict) -> str:
    h = hashlib.sha256()
    for name in sorted(tables["rows"]):
        for v in tables["rows"][name]:
            h.update(repr(v).encode("utf-8"))
    return h.hexdigest()


def main() -> int:
    from b2xtranslator_spark.extractors import extract_payload_text

    failures = []
    builders = {
        "mixed_distinct": lambda s: gen.gen_extraction(s, "mixed_distinct"),
        "forwarded_write": lambda s: gen.gen_extraction(s, "forwarded_write"),
        "dedup_filter": gen.gen_dedup,
    }
    for name, build in builders.items():
        a, b, c = build(11), build(11), build(12)
        if _digest(a) != _digest(b):
            failures.append(f"{name}: seed 11 is not reproducible")
        if _digest(a) == _digest(c):
            failures.append(f"{name}: seeds 11 and 12 give the same table")
        if name == "dedup_filter":
            failures += _check_dedup(a)
            continue
        for kind, payload, expected, status in a["docs"]:
            res = extract_payload_text(payload)
            if (res.text, res.status) != (expected, status):
                failures.append(f"{name}: {kind} document decodes to {res.status!r}")
        print(f"{name}: {len(a['docs'])} documents checked", flush=True)
    for f in failures:
        print("FAIL", f)
    print("selftest", "FAILED" if failures else "passed")
    return 1 if failures else 0


def _check_dedup(tables: dict) -> list[str]:
    """Under the generator's own MinHash: every member of a planted
    cluster has a verified edge (shared LSH band, Jaccard >= 0.5) to
    another member, and no two documents of different clusters do."""
    texts = dict(zip(tables["rows"]["doc_id"], tables["rows"]["text"]))
    keeper = tables["expect_cluster"]
    sigs = {d: gen.bands(gen.minhash(t)) for d, t in texts.items()}
    buckets: dict[tuple, list[int]] = {}
    for d, bs in sigs.items():
        for b in bs:
            buckets.setdefault(b, []).append(d)
    words = {d: gen.word_set(t) for d, t in texts.items()}
    edges: dict[int, set[int]] = {d: set() for d in texts}
    checked: set[tuple[int, int]] = set()
    out = []
    for members in buckets.values():
        for i, x in enumerate(members):
            for y in members[i + 1 :]:
                if (x, y) in checked:
                    continue
                checked.add((x, y))
                if len(words[x] & words[y]) < 0.5 * len(words[x] | words[y]):
                    continue
                if keeper[x] != keeper[y]:
                    out.append(f"dedup_filter: docs {x} and {y} of different clusters verify")
                edges[x].add(y)
                edges[y].add(x)
    for d, k in keeper.items():
        if d != k and not edges[d]:
            out.append(f"dedup_filter: doc {d} has no verified edge towards keeper {k}")
    print(f"dedup_filter: {len(set(keeper.values()))} clusters checked", flush=True)
    return out


if __name__ == "__main__":
    sys.exit(main())

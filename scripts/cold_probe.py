#!/usr/bin/env python
"""Session catalog traffic probe: run every `queries()` key (or the
named ones) once, in registry order, in ONE session with the catalog
live, and report which catalog entries later keys actually read.

Per entry (name + the short semantic hash of its first input plan):
stores, hits by the key that stored it, hits by other keys, and the
keys involved. Only records: `Slot.get` / `Slot.put` are wrapped,
catalog behaviour is unchanged. An entry no other key ever hits
costs a persist for nothing.

Usage: python scripts/cold_probe.py <sf_dir> [key ...]
"""

from __future__ import annotations

import collections
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    import __spark_entry__ as entry
    import bench
    from fossil_spark import catalog
    from fossil_spark.session import get_spark

    spark = get_spark("cold-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    sf_dir = sys.argv[1]
    keys = sys.argv[2:] or list(qs)

    running = [None]  # the key being run
    stored_by: dict = {}  # slot key -> key that stored it
    traffic: dict = collections.defaultdict(lambda: {
        "stores": 0, "same": 0, "cross": 0, "keys": set()})
    get, put = catalog.Slot.get, catalog.Slot.put

    def label(slot):
        _, name, hashes, _ = slot.key
        return f"{name} #{hashes[0] & 0xffff:04x}"

    def traced_get(self, valid=lambda value: True):
        value = get(self, valid)
        if value is not None:
            t = traffic[label(self)]
            t["same" if stored_by.get(self.key) == running[0]
              else "cross"] += 1
            t["keys"].add(running[0])
        return value

    def traced_put(self, value, persist=True):
        out = put(self, value, persist)
        if self.key is not None and self.key in catalog._ENTRIES:
            stored_by[self.key] = running[0]
            t = traffic[label(self)]
            t["stores"] += 1
            t["keys"].add(running[0])
        return out

    catalog.Slot.get, catalog.Slot.put = traced_get, traced_put
    bench.clear_session_memos()
    failed = []
    for key in keys:
        running[0] = key
        try:
            bench.force(qs[key](spark, sf_dir))
        except Exception as e:  # report and keep probing
            failed.append(f"{key}: {type(e).__name__}")

    print(f"{'entry':40s} {'stores':>6s} {'same':>5s} {'cross':>5s}  keys")
    for name, t in sorted(traffic.items()):
        print(f"{name:40s} {t['stores']:6d} {t['same']:5d} {t['cross']:5d}"
              f"  {','.join(sorted(t['keys']))}")
    print(f"keys run: {len(keys)}  failed: {len(failed)}  catalog counts: "
          f"{dict(catalog.COUNTS)}")
    for f in failed:
        print(f"  failed {f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

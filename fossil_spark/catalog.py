"""Session result catalog: the one place operators keep results for
reuse by later queries of the same session.

Several operator results are shared substrates of many queries: the
exact retrieval truth every recall/NDCG audit scores against, the
MinHash signature matrix and near-dup pair graph behind ~15 dedup and
graph operators, the near-dup component table, the k-means fit, the
BPE merge chain, the label-propagation labels and the theil-sen trend
table. A production evaluation materializes each once per corpus
snapshot; recomputing it per consumer multiplies the most expensive
pass of the suite. The catalog is that materialization, with one rule
for every consumer:

- Key: owning session, a name carrying every parameter, the
  `semanticHash` of each plan the result depends on, and a tag over
  those plans' leaf input files (path, mtime, length). Rewriting files
  behind a previously-seen plan changes the tag, so the next call
  misses and recomputes instead of serving stale rows.
- Hit: the owning session is still live and the caller's validity
  check (schema, columns, chain length) accepts the stored value, so
  a 32-bit `semanticHash` collision recomputes instead of serving the
  wrong table. Entries hold their session strongly: a stored
  DataFrame pins it anyway, so a weak reference could never die.
- Admission: an entry whose plans read more than
  SPARK_GRAFT_MEMO_MAX_BYTES (default 8 GiB) of leaf input is not
  kept; a table derived from a corpus-scale scan is corpus-scale in
  the worst case, and pinning it for the session exhausts executor
  storage. Sizes are the file index's listed lengths (local or
  remote), each distinct file counted once; plans with no file leaves
  have unknown size and are admitted. Leaf bytes are the stable
  estimate: Catalyst's optimized-plan statistics inflate through
  joins to petabytes even on small inputs.
- Eviction: LRU at MAX_ENTRIES; entries of stopped sessions are swept
  on every insert. Dropping an entry unpersists what was persisted.

`invalidate_all()` empties the catalog; the benchmark calls it before
every timed run so each number measures a cold query. The catalog
keeps no state across sessions or processes.
"""

from __future__ import annotations

import collections
import hashlib
import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

MAX_ENTRIES = 32
COUNTS: collections.Counter = collections.Counter()  # hit / miss / reject

_ENTRIES: collections.OrderedDict = collections.OrderedDict()


def _live(sess) -> bool:
    """True while the session's JVM context runs (stop() clears it)."""
    try:
        return sess is not None and sess.sparkContext._jsc is not None
    except Exception:
        return False


def _leaf_files(plans) -> tuple[str, float | None]:
    """(files tag, leaf input bytes) of `plans` in one walk of their
    analyzed logical plans. The analyzed plan is resolved before cache
    substitution, so file leaves stay visible even when an equivalent
    subtree is persisted (df.inputFiles() would then return []). Bytes
    are None when no leaf reads files, and infinite when a file leaf's
    index cannot list its files (an unmeasurable input is never
    admitted)."""
    files: dict[str, tuple[int, int]] = {}
    unlisted = False
    found = False
    for df in plans:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            try:
                index = leaves.apply(i).relation().location()
            except Exception:
                continue  # not a file scan (LocalRelation, LogicalRDD, ...)
            found = True
            try:
                listed = index.allFiles()
            except Exception:
                unlisted = True
                continue
            for j in range(listed.size()):
                st = listed.apply(j)
                files[st.getPath().toString()] = (
                    st.getModificationTime(), st.getLen(),
                )
    tag = hashlib.md5("|".join(
        f"{path}:{mtime}:{length}"
        for path, (mtime, length) in sorted(files.items())
    ).encode()).hexdigest()
    if unlisted:
        return tag, float("inf")
    return tag, sum(length for _, length in files.values()) if found else None


def _max_bytes() -> int:
    return int(os.environ.get("SPARK_GRAFT_MEMO_MAX_BYTES", str(8 * 1024**3)))


def _drop(key) -> None:
    entry = _ENTRIES.pop(key, None)
    if entry is not None and getattr(entry[1], "is_cached", False):
        try:
            entry[1].unpersist()
        except Exception:
            pass  # session already stopped: nothing to free


class Slot:
    """The catalog entry for result `name` computed from `plans`
    (`name` must carry every parameter that changes the result).
    A plan that cannot be hashed gives a keyless slot: `get` misses
    and `put` returns the value unstored."""

    def __init__(self, name: str, *plans: DataFrame):
        self.sess = plans[0].sparkSession
        try:
            tag, self.nbytes = _leaf_files(plans)
            self.key = (
                id(self.sess), name,
                tuple(p.semanticHash() for p in plans), tag,
            )
        except Exception:
            self.key = None

    def get(self, valid=lambda value: True):
        """The stored value if the owning session is live and
        `valid(value)` holds; otherwise None (a rejected entry is
        dropped)."""
        if self.key is None:
            return None
        entry = _ENTRIES.get(self.key)
        if entry is not None:
            owner, value = entry
            if owner is self.sess and _live(owner) and valid(value):
                _ENTRIES.move_to_end(self.key)
                COUNTS["hit"] += 1
                return value
            _drop(self.key)
        COUNTS["miss"] += 1
        return None

    def put(self, value, persist: bool = True):
        """Store `value` (persisted MEMORY_AND_DISK first when
        `persist`) unless its inputs exceed the size cap; returns
        what the caller should use."""
        if self.key is None:
            return value
        if self.nbytes is not None and self.nbytes > _max_bytes():
            COUNTS["reject"] += 1
            return value
        if persist:
            value = value.persist(StorageLevel.MEMORY_AND_DISK)
        for stale in [k for k, (s, _) in _ENTRIES.items() if not _live(s)]:
            _drop(stale)
        while len(_ENTRIES) >= MAX_ENTRIES:
            _drop(next(iter(_ENTRIES)))
        _ENTRIES[self.key] = (self.sess, value)
        return value


def memo(df: DataFrame, tag: str = "") -> DataFrame:
    """Persist-once session memo of `df`: the first caller of a
    semantically identical plan materializes it; later callers in the
    same session get the persisted table back. `tag` separates
    same-plan uses that must not share. Every memoized builder is
    deterministic, so results are bitwise unchanged."""
    slot = Slot(f"memo:{tag}", df)
    hit = slot.get(lambda cached: cached.schema == df.schema)
    return hit if hit is not None else slot.put(df)


def size() -> int:
    """Number of entries held."""
    return len(_ENTRIES)


def invalidate_all() -> None:
    """Unpersist and drop every entry, e.g. after an in-place rewrite
    that keeps every file's name, mtime and length."""
    for key in list(_ENTRIES):
        _drop(key)

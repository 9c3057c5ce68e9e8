"""URL-seen filter — a partitioned bloom or sharded cuckoo filter over
canonical URL hashes, and the one owner of the stored seen table.

Replaces the reference's implicit URL-seen set (the CrawlDb MapFile key
set — CrawlDbReducer creates a row per never-seen URL and existence is
key lookup, crawl/CrawlDb.java:148, CrawlDbReducer.java:145-147) with
the explicit bloom/cuckoo structure the north rule calls for:

  * key = xxhash64(canonicalized url) — the same `url_hash` column the
    frontier carries (functions/urls.url_hash_col);
  * the filter is PARTITIONED: shard = pmod(url_hash, n_shards); each
    shard is an independent structure (a bloom bitset, or a cuckoo
    table plus overflow stash) stored as one row of the seen table —
    at 10^10-URL scale each shard holds ~10^10/n_shards keys and
    shards build/probe in parallel with no shared state;
  * `_ShardedFilter` is the one Spark skeleton of both filters: build
    (one shuffle on the shard key, one NumPy batch per shard), the one
    cogroup shard-rewrite program behind add() and the cuckoo's
    delete() — no global rebuild per cycle — and the probe, where
    candidates test against an RDD-broadcast dict of shard rows, or
    cogroup with their shard row once the table is too large to
    broadcast. `SeenFilter` and `CuckooSeenFilter` supply only their
    geometry and per-shard NumPy kernels;
  * false positives lose only *new* outlinks (they are wrongly treated
    as already-known). `unseen_exact` is the audit path: a left-anti
    join against the frontier, used in tests to measure the FP rate
    and as the exact fallback;
  * `SeenTable` owns the stored table for every writer of the frontier
    (the crawl loop, the streaming merge, the server's /seed): the
    geometry check with rebuild, the commit of table plus geometry, and
    the one updatedb-and-commit path of the frontier (`merge`,
    `commit_frontier`), which together keep the filter ⊇ frontier
    invariant.

Bloom math: k = round(bits_per_key·ln2) hash functions via double
hashing h_i = h1 + i·h2 (Kirsch–Mitzenmacher), h1/h2 drawn from the
64-bit url_hash halves. All membership/insert ops are NumPy bitwise
ops over uint8 arrays.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import STATUS_DB_GONE
from .updatedb import updatedb, updatedb_seen_split

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("bitset", T.BinaryType(), False),
        T.StructField("n_keys", T.LongType(), False),
    ]
)


def _num_hashes(bits_per_key: float) -> int:
    return max(1, round(bits_per_key * math.log(2)))


def _bit_positions(hashes: np.ndarray, m_bits: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, k) arrays of byte index / bit mask for each key's k probes."""
    h = hashes.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)  # odd-ish second hash
    i = np.arange(k, dtype=np.uint64)
    pos = (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(m_bits)
    return (pos >> np.uint64(3)).astype(np.int64), (
        np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)
    )


def _build_bitset(hashes: np.ndarray, m_bits: int, k: int) -> bytes:
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if len(hashes):
        byte_idx, masks = _bit_positions(hashes, m_bits, k)
        np.bitwise_or.at(bits, byte_idx.ravel(), masks.ravel())
    return bits.tobytes()


def _contains(bitset: bytes, hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    if not len(hashes):
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(bitset, dtype=np.uint8)
    byte_idx, masks = _bit_positions(hashes, m_bits, k)
    return ((bits[byte_idx] & masks) == masks).all(axis=1)


class _ShardedFilter:
    """The Spark programs of a URL-seen filter sharded on
    pmod(url_hash, n_shards), whatever its per-shard structure.

    A subclass names its table — `_KEY` (shard column), `_PAYLOAD`
    (binary state columns), `_SCHEMA` — plus `n_shards` and
    `_shard_bytes()`, and supplies NumPy kernels over one shard's
    state: `_empty()` a fresh state, `_load(*payload)` a mutable copy
    of a stored row's, `_dump(state)` the row's payload bytes,
    `_insert(state, h)` adds int64 keys and returns the `n_keys` delta,
    `_hits(payload, h)` tests keys against a stored row."""

    # Above this configured table size the probe switches from the
    # driver-broadcast shape to the partitioned cogroup (the driver
    # never materializes the table).
    BROADCAST_LIMIT_BYTES = 64 << 20

    def shard_col(self, url_hash):
        return F.pmod(url_hash, F.lit(self.n_shards)).cast("int")

    def _keyed(self, df: DataFrame) -> DataFrame:
        return df.select(
            self.shard_col(F.col("url_hash")).alias(self._KEY), "url_hash"
        )

    def _rewrite_shard(self, op, old: pd.DataFrame | None,
                       new: pd.DataFrame) -> pd.DataFrame:
        """One shard's next row: `op` over the state stored in `old`
        (a fresh state when it holds no row) and the keys in `new`."""
        if old is not None and len(old):
            row = old.iloc[0]
            state = self._load(*(row[c] for c in self._PAYLOAD))
            n = int(row["n_keys"])
        else:
            row, state, n = new.iloc[0], self._empty(), 0
        h = (new["url_hash"].to_numpy(dtype=np.int64) if len(new)
             else np.zeros(0, dtype=np.int64))
        n += op(state, h)
        return pd.DataFrame({
            self._KEY: [int(row[self._KEY])],
            **{c: [b] for c, b in zip(self._PAYLOAD, self._dump(state))},
            "n_keys": [n],
        })

    def build(self, frontier: DataFrame) -> DataFrame:
        """frontier(url_hash, …) → the seen table, one row per shard.

        One shuffle on the shard key; each shard builds independently
        as one NumPy batch inside applyInPandas."""
        return self._keyed(frontier).groupBy(self._KEY).applyInPandas(
            lambda pdf: self._rewrite_shard(self._insert, None, pdf),
            self._SCHEMA,
        )

    def _rewrite(self, seen: DataFrame, keys: DataFrame, op,
                 create: bool) -> DataFrame:
        """The shard-rewrite program: cogroup each stored shard row with
        its delta keys and rewrite it once through `op`. A shard with
        keys but no row starts from a fresh state if `create`, else
        stays absent."""
        empty = pd.DataFrame(columns=self._SCHEMA.fieldNames()).astype(
            {self._KEY: "int32", "n_keys": "int64"}
        )

        def rewrite(old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
            if not len(old) and not create:
                return empty
            return self._rewrite_shard(op, old, new)

        return (
            seen.groupBy(self._KEY)
            .cogroup(self._keyed(keys).groupBy(self._KEY))
            .applyInPandas(rewrite, self._SCHEMA)
        )

    def add(self, seen: DataFrame, new_urls: DataFrame) -> DataFrame:
        """Insert new url_hashes into the stored shards. No rebuild:
        each shard row rewrites once.

        `n_keys` is an UPPER-BOUND insert counter, not a distinct-member
        count (no prior-membership probe): a key added twice counts
        twice — for the cuckoo it also occupies a second slot, while
        delete() decrements only on a successful removal. Callers keep
        it exact by feeding add() only definitely-new keys (the crawl
        loop feeds the maybe_seen=False set, which cannot already be
        present); fed overlapping deltas, load-factor math should treat
        it as a ceiling."""
        return self._rewrite(seen, new_urls, self._insert, create=True)

    def mark_seen(self, candidates: DataFrame, seen: DataFrame,
                  url_hash_col: str = "url_hash",
                  mode: str = "auto") -> DataFrame:
        """Add boolean `maybe_seen` to candidates (true ⇒ probably in
        the frontier; false ⇒ DEFINITELY new — the useful guarantee).
        A candidate whose shard has no row is definitely new.

        Two physical shapes, same result:

        * ``broadcast`` — the shard table is collected once and RDD-
          broadcast as a dict; each Arrow batch probes against it in
          NumPy. (A broadcast JOIN instead would materialize the
          megabyte shard payload into every candidate row and push it
          through Arrow per row — measured ~90 s for a 1.5k-candidate
          probe.) Right while the whole table fits comfortably in
          driver/executor memory.
        * ``partitioned`` — the 10^10-frontier shape: candidates
          shuffle once on the shard key and COGROUP with the seen
          table, so each task sees (its candidates, its single shard
          row) and probes in one NumPy batch. No driver collect, no
          broadcast; each shard row moves over the wire once.

        ``auto`` picks by the configured table size
        (n_shards × shard bytes vs BROADCAST_LIMIT_BYTES) — a static
        decision from filter config, not a data scan."""
        if mode == "auto":
            table_bytes = self.n_shards * self._shard_bytes()
            mode = (
                "broadcast"
                if table_bytes <= self.BROADCAST_LIMIT_BYTES
                else "partitioned"
            )
        out_schema = T.StructType(
            list(candidates.schema.fields)
            + [T.StructField("maybe_seen", T.BooleanType())]
        )
        if mode == "partitioned":
            def probe(cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
                res = cpdf.drop(columns=["__shard"])
                if len(spdf) and len(cpdf):
                    res["maybe_seen"] = self._hits(
                        tuple(spdf[c].iloc[0] for c in self._PAYLOAD),
                        cpdf[url_hash_col].to_numpy(dtype=np.int64),
                    )
                else:
                    res["maybe_seen"] = np.zeros(len(cpdf), dtype=bool)
                return res

            cand = candidates.withColumn(
                "__shard", self.shard_col(F.col(url_hash_col))
            )
            return (
                cand.groupBy("__shard")
                .cogroup(seen.groupBy(self._KEY))
                .applyInPandas(probe, out_schema)
            )
        table = {
            int(r[0]): tuple(bytes(b) for b in r[1:])
            for r in seen.select(self._KEY, *self._PAYLOAD).collect()
        }
        bc = candidates.sparkSession.sparkContext.broadcast(table)
        ns = self.n_shards

        def probe_batches(batches):
            tbl = bc.value
            for pdf in batches:
                hv = pdf[url_hash_col].to_numpy(dtype=np.int64)
                shards = hv % ns  # ≙ F.pmod: non-negative for ns > 0
                out = np.zeros(len(pdf), dtype=bool)
                for s in np.unique(shards):
                    payload = tbl.get(int(s))
                    if payload is None:
                        continue
                    mask = shards == s
                    out[mask] = self._hits(payload, hv[mask])
                res = pdf.copy()
                res["maybe_seen"] = out
                yield res

        return candidates.mapInPandas(probe_batches, out_schema)

    def unseen(self, candidates: DataFrame, seen: DataFrame,
               url_hash_col: str = "url_hash",
               mode: str = "auto") -> DataFrame:
        """Candidates definitely not in the seen set (no false
        negatives: every inserted key still answers maybe_seen)."""
        return self.mark_seen(candidates, seen, url_hash_col, mode).filter(
            ~F.col("maybe_seen")
        ).drop("maybe_seen")


class SeenFilter(_ShardedFilter):
    """Partitioned URL-seen bloom: shard ("bucket") = one bitset."""

    _KEY, _PAYLOAD, _SCHEMA = "bucket", ("bitset",), SEEN_SCHEMA

    def __init__(self, n_buckets: int = 64, bits_per_key: float = 10.0,
                 expected_keys_per_bucket: int = 1_000_000):
        self.n_buckets = n_buckets
        self.bits_per_key = bits_per_key
        self.k = _num_hashes(bits_per_key)
        # bucket bitset sized for the expected load, byte-aligned
        m = int(expected_keys_per_bucket * bits_per_key)
        self.m_bits = max(64, (m + 7) // 8 * 8)

    @property
    def n_shards(self) -> int:
        return self.n_buckets

    def geometry(self) -> dict:
        """Probe-compatibility fingerprint. A stored seen table is only
        meaningful to a filter with the SAME geometry — probing a
        table built under a different bucketing/bit-space silently
        reads absent buckets / wrong bit positions as unseen (false
        negatives → double-created rows). SeenTable persists it with
        the table and rebuilds on mismatch."""
        return {"kind": "bloom", "n_buckets": self.n_buckets,
                "m_bits": self.m_bits, "k": self.k}

    # -- per-shard kernels --
    def _shard_bytes(self) -> int:
        return self.m_bits // 8

    def _empty(self) -> np.ndarray:
        return np.zeros(self._shard_bytes(), dtype=np.uint8)

    def _load(self, bitset: bytes) -> np.ndarray:
        return np.frombuffer(bitset, dtype=np.uint8).copy()

    def _dump(self, bits: np.ndarray) -> tuple[bytes]:
        return (bits.tobytes(),)

    def _insert(self, bits: np.ndarray, h: np.ndarray) -> int:
        bits |= np.frombuffer(
            _build_bitset(h, self.m_bits, self.k), dtype=np.uint8
        )
        return len(h)

    def _hits(self, payload: tuple[bytes], h: np.ndarray) -> np.ndarray:
        return _contains(payload[0], h, self.m_bits, self.k)


def unseen_exact(candidates: DataFrame, frontier: DataFrame, key: str = "url") -> DataFrame:
    """Exact audit path: left-anti join against the frontier keys."""
    return candidates.join(frontier.select(key), key, "left_anti")


# ---------------------------------------------------------------------
# Cuckoo-filter URL-seen — the north rule's other option ("partitioned
# bloom/cuckoo filter"). Same skeleton (_ShardedFilter) as SeenFilter;
# the per-shard structure is a cuckoo filter (Fan, Andersen,
# Kaminsky, Mitzenmacher: "Cuckoo Filter: Practically Better Than
# Bloom", CoNEXT 2014): a table of m indexes × `slots` entries, each
# entry a 16-bit key fingerprint; a key may live at one of TWO indexes
#
#   i1 = h & (m-1)
#   i2 = i1 XOR (fp(h) * 0x5BD1E995) & (m-1)          (m a power of 2)
#
# which is what buys cuckoo filters their advantage over blooms here:
# DELETION (remove one stored occurrence of the fingerprint — a 404-
# purged / CrawlDbFilter-evicted URL can leave the seen set without a
# rebuild) and bounded lookup cost (exactly 2 indexes per probe,
# vs k scattered bit reads).
#
# Deliberate divergence from the paper, documented: the build places
# keys with TWO deterministic greedy rounds (every key tries i1; the
# spill tries i2; rank-within-index by key order decides who fits)
# plus an EXACT overflow stash, instead of the randomized kick loop;
# DELETE mirrors it with the same two deterministic rounds (_remove),
# instead of the paper's sequential per-delete slot scan. Lookup
# semantics are the canonical ones; the only cost is a lower slot
# load before keys start landing in the stash (the kick loop reaches
# ~95% load, two-round greedy ~85% at slots=4 — size m accordingly).
# What it buys: build AND delete are order-independent pure
# window-function programs, so the correctness gate replays the
# ENTIRE filter — placement, fingerprints, stash, probe, deletion —
# in ANSI SQL (see gate.py ORACLE_BLOOM_UNSEEN's cuckoo branches),
# the same full-oracle discipline as the bloom's position replay; and
# neither inserts nor deletes loop per row (at 10^10 keys a
# data-dependent per-key branch chain is hostile to vectorization).
# ---------------------------------------------------------------------

CUCKOO_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),   # uint16 (m·slots)
        T.StructField("stash", T.BinaryType(), False),   # int64 overflow keys
        T.StructField("n_keys", T.LongType(), False),
    ]
)

_FP_MIX = np.int64(0x5BD1E995)


def _cuckoo_parts(h: np.ndarray, m: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(fp, i1, i2) for int64 keys; all arithmetic replayable in SQL."""
    fp = (h >> np.int64(32)) & np.int64(0xFFFF)
    fp = np.where(fp == 0, np.int64(1), fp)
    i1 = h & np.int64(m - 1)
    i2 = i1 ^ ((fp * _FP_MIX) & np.int64(m - 1))
    return fp, i1, i2


def _rank_within(groups: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Stable 0-based rank of each element within its group value,
    preserving input order inside a group (input sorted by key ⇒ rank
    is rank-by-key, matching ``row_number() OVER (PARTITION BY g
    ORDER BY h)``). Returns (order, rank-in-sorted-order)."""
    order = np.argsort(groups, kind="stable")
    g = groups[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    reps = np.diff(np.r_[starts, len(g)])
    rank = np.arange(len(g)) - np.repeat(starts, reps)
    return order, rank


def _group_counts(idx: np.ndarray, f16: np.ndarray):
    """Yield (index, fingerprint, count) per unique (idx, fp) pair of
    the parallel consumer arrays — the per-group removal quota."""
    if not len(idx):
        return
    comp = idx.astype(np.int64) * np.int64(1 << 16) + f16.astype(np.int64)
    uniq, counts = np.unique(comp, return_counts=True)
    for u, c in zip(uniq, counts):
        yield int(u >> 16), np.uint16(u & 0xFFFF), int(c)


class CuckooSeenFilter(_ShardedFilter):
    """Sharded cuckoo-filter URL-seen set: shard = one (table, stash)
    pair, built/probed/rewritten by the same skeleton as SeenFilter."""

    _KEY, _PAYLOAD, _SCHEMA = "shard", ("table", "stash"), CUCKOO_SCHEMA

    def __init__(self, n_shards: int = 64, m_indexes: int = 1 << 18,
                 slots: int = 4):
        if m_indexes & (m_indexes - 1):
            raise ValueError("m_indexes must be a power of two")
        self.n_shards = n_shards
        self.m = m_indexes
        self.slots = slots

    def geometry(self) -> dict:
        """Probe-compatibility fingerprint — see SeenFilter.geometry."""
        return {"kind": "cuckoo", "n_shards": self.n_shards,
                "m_indexes": self.m, "slots": self.slots}

    def delete(self, seen: DataFrame, gone_urls: DataFrame) -> DataFrame:
        """Remove ONE stored occurrence per deleted url_hash (slot at
        i1, else i2, else exact stash key) — the filter operation
        blooms can't do. Canonical caveat (paper §3.2): only delete
        keys that were inserted; a delete may remove another key's
        identical fingerprint at a shared index, which stays
        membership-safe because the probe matches the survivor. The
        per-shard kernel is the order-independent two-round _remove."""
        return self._rewrite(seen, gone_urls, self._drop, create=False)

    # -- per-shard kernels --
    def _shard_bytes(self) -> int:
        return self.m * self.slots * 2

    def _empty(self) -> tuple[np.ndarray, list[int]]:
        return np.zeros((self.m, self.slots), dtype=np.uint16), []

    def _load(self, table: bytes, stash: bytes) -> tuple[np.ndarray, list[int]]:
        return (
            np.frombuffer(table, dtype=np.uint16)
            .reshape(self.m, self.slots).copy(),
            np.frombuffer(stash, dtype=np.int64).tolist(),
        )

    def _dump(self, state) -> tuple[bytes, bytes]:
        table, stash = state
        return table.tobytes(), np.asarray(stash, dtype=np.int64).tobytes()

    def _insert(self, state, h: np.ndarray) -> int:
        h = np.unique(h)
        self._place(h, *state)
        return len(h)

    def _drop(self, state, h: np.ndarray) -> int:
        return -self._remove(np.unique(h), *state)

    def _hits(self, payload: tuple[bytes, bytes], h: np.ndarray) -> np.ndarray:
        return self._probe(*payload, h)

    # -- placement / probe / removal over one shard --
    def _place(self, h_sorted: np.ndarray, table: np.ndarray,
               stash: list[int]) -> None:
        """Two-round greedy placement of DISTINCT sorted keys into
        `table` (uint16 view, shape (m, slots), mutated); overflow
        appended to `stash`. Slot order inside an index is compacted
        first — it carries no meaning (lookup is set-membership)."""
        m, slots = self.m, self.slots
        # compact: nonzero fingerprints to the front of each index row
        occ = (table != 0).sum(axis=1).astype(np.int64)
        nz = table != 0
        packed = np.zeros_like(table)
        idx_r, slot_r = np.nonzero(nz)
        if len(idx_r):
            _, r = _rank_within(idx_r)  # idx_r already sorted
            packed[idx_r, r] = table[idx_r, slot_r]
        table[:] = packed
        fp, i1, i2 = _cuckoo_parts(h_sorted, m)
        # round A: everyone tries i1; capacity = slots - current occ
        oa, ra = _rank_within(i1)
        cap1 = slots - occ[i1[oa]]
        put_a = ra < cap1
        a_idx, a_slot = i1[oa[put_a]], occ[i1[oa[put_a]]] + ra[put_a]
        table[a_idx, a_slot] = fp[oa[put_a]]
        np.add.at(occ, a_idx, 1)
        # round B: the spill tries i2 against post-A occupancy
        rem = oa[~put_a]
        rem = rem[np.argsort(h_sorted[rem], kind="stable")]
        if len(rem):
            ob, rb = _rank_within(i2[rem])
            cap2 = slots - occ[i2[rem[ob]]]
            put_b = rb < cap2
            b_keys = rem[ob[put_b]]
            b_idx = i2[b_keys]
            table[b_idx, occ[b_idx] + rb[put_b]] = fp[b_keys]
            np.add.at(occ, b_idx, 1)
            stash.extend(h_sorted[rem[ob[~put_b]]].tolist())

    def _probe(self, table_b: bytes, stash_b: bytes,
               h: np.ndarray) -> np.ndarray:
        table = np.frombuffer(table_b, dtype=np.uint16).reshape(
            self.m, self.slots
        )
        stash = np.frombuffer(stash_b, dtype=np.int64)
        fp, i1, i2 = _cuckoo_parts(h, self.m)
        fp16 = fp.astype(np.uint16)
        hit = (table[i1] == fp16[:, None]).any(axis=1)
        hit |= (table[i2] == fp16[:, None]).any(axis=1)
        if len(stash):
            hit |= np.isin(h, stash)
        return hit

    def _remove(self, hs: np.ndarray, table: np.ndarray,
                stash: list[int]) -> int:
        """Two-round greedy delete of DISTINCT sorted keys, the mirror
        of _place: round A, every key claims one occurrence of its
        fingerprint at i1 (rank-by-key within (i1, fp), guarded by the
        occurrence count there); round B, the spill claims at i2
        against post-A availability; the rest remove their EXACT key
        from the stash (no-op if absent). Deliberate divergence from
        the paper's per-delete slot scan, documented like the build's
        two-round placement: order-independent and window-expressible,
        so the gate replays the whole delete in ANSI SQL — and the
        kernel is vectorized (per-(index,fp) group ops, no per-delete
        branch chain). Same membership caveat as any cuckoo delete
        (§3.2): only delete inserted keys. Returns #removed."""
        if not len(hs):
            return 0
        m = self.m
        fp, i1, i2 = _cuckoo_parts(hs, m)
        fp16 = fp.astype(np.uint16)
        removed = 0
        # round A at i1: rank within (i1, fp) by key order, guarded by
        # the occurrence count currently stored there
        gA = i1 * np.int64(1 << 16) + fp
        oA, rA = _rank_within(gA)
        availA = (table[i1[oA]] == fp16[oA][:, None]).sum(axis=1)
        takeA = rA < availA
        for v, f, c in _group_counts(i1[oA[takeA]], fp16[oA[takeA]]):
            slots_f = np.flatnonzero(table[v] == f)
            table[v, slots_f[:c]] = 0
            removed += c
        # round B: the spill tries i2 against post-A occupancy
        rem = oA[~takeA]
        rem = rem[np.argsort(hs[rem], kind="stable")]
        stash_arr = np.asarray(stash, dtype=np.int64)
        if len(rem):
            gB = i2[rem] * np.int64(1 << 16) + fp[rem]
            oB, rB = _rank_within(gB)
            availB = (table[i2[rem[oB]]] == fp16[rem[oB]][:, None]).sum(
                axis=1
            )
            takeB = rB < availB
            for v, f, c in _group_counts(
                i2[rem[oB[takeB]]], fp16[rem[oB[takeB]]]
            ):
                slots_f = np.flatnonzero(table[v] == f)
                table[v, slots_f[:c]] = 0
                removed += c
            # the rest: exact-key stash removal
            left = hs[rem[oB[~takeB]]]
            if len(left) and len(stash_arr):
                gone = np.isin(stash_arr, left)
                removed += int(gone.sum())
                stash_arr = stash_arr[~gone]
        stash[:] = stash_arr.tolist()
        return removed


# The geometries Crawler gives CrawlConfig(seen_filter=...) when
# seen_params is unset (perfbench's SEEN_GEOMETRY mirrors the cuckoo's).
DEFAULT_PARAMS = {
    "bloom": dict(n_buckets=32, expected_keys_per_bucket=200_000),
    "cuckoo": dict(n_shards=32, m_indexes=1 << 14),
}


def make_filter(kind: str | None, params: dict | None = None):
    """The filter `CrawlConfig(seen_filter=kind, seen_params=params)`
    names; None for no filter."""
    if kind is None:
        return None
    classes = {"bloom": SeenFilter, "cuckoo": CuckooSeenFilter}
    if kind not in classes:
        raise ValueError(f"unknown seen_filter {kind!r}")
    return classes[kind](**(params or DEFAULT_PARAMS[kind]))


class SeenTable:
    """A warehouse's stored `seen` table, kept ⊇ the frontier.

    The updatedb split (updatedb_seen_split) is row-identical to the
    plain merge only while the filter answers maybe_seen for EVERY
    frontier URL: a false positive merely takes the big join's
    lone-link branch, a false negative double-creates a row. So every
    frontier write that can add keys goes through `commit_frontier`:
    it invalidates the table, writes the frontier, then commits the
    maintained table, so a crash in between leaves the table invalid
    and the next `read` rebuilds it. `merge` is the one updatedb in
    front of it for the crawl loop and the streaming merge; the
    server's /seed and Crawler.inject commit an inject.

    `read` is the table to probe, (re)built over the frontier first if
    it is not current: absent (resume from a pre-filter warehouse),
    committed under another geometry (resume with changed
    seen_filter/seen_params, whose bucket ids / bit positions the filter
    would misread as unseen), or rolled back by a stage replay
    (SnapshotStore.run_stage). The geometry record (seen/GEOMETRY.json)
    names the geometry and the snapshot it was committed with; it is
    removed before every table commit and written after it, so a table
    is never probed under a record it was not committed with. With no
    filter bound (`filt=None`) a writer can only invalidate."""

    def __init__(self, spark, store, filt):
        self.spark = spark
        self.store = store
        self.filt = filt
        self._geometry_path = os.path.join(store.root, "seen", "GEOMETRY.json")

    def _record(self) -> dict:
        return {"geometry": self.filt.geometry(),
                "snapshot": self.store.current_snapshot("seen")}

    def _current(self) -> bool:
        """Whether the stored table is the one last committed under
        `filt`'s geometry."""
        try:
            with open(self._geometry_path) as f:
                stored = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return False
        return self.store.exists("seen") and stored == self._record()

    def read(self, frontier: DataFrame) -> DataFrame:
        if not self._current():
            self.commit(self.filt.build(frontier))
        return self.store.read(self.spark, "seen")

    def invalidate(self) -> None:
        try:
            os.remove(self._geometry_path)
        except FileNotFoundError:
            pass

    def commit(self, seen: DataFrame) -> None:
        """Commit `seen` — a build, or an add()/delete() of what `read`
        returned — under the filter's geometry."""
        self.invalidate()
        self.store.write(seen, "seen")
        self._record_geometry()

    def _record_geometry(self) -> None:
        os.makedirs(os.path.dirname(self._geometry_path), exist_ok=True)
        with open(self._geometry_path, "w") as f:
            json.dump(self._record(), f)

    def commit_frontier(self, merged: DataFrame, seen_next: DataFrame | None = None,
                        write=None) -> None:
        """Write `merged` as the frontier (through `write(df)` when
        given, e.g. the crawl loop's host-bucketed layout), then commit
        `seen_next`, the table that covers it, if there is one."""
        self.invalidate()
        (write or (lambda df: self.store.write(df, "frontier")))(merged)
        if seen_next is not None:
            self.commit(seen_next)

    def merge(self, fetch_results, crawl_parse, now: int, *, audit=False,
              write=None, **upd_kw) -> None:
        """updatedb of the current frontier with a cycle's or a stream
        batch's results, committed through `commit_frontier`.

        With a filter bound, the merge is updatedb_seen_split against
        `read`'s table (routing, narrow probe and invariant are
        documented there); `audit` checks every definitely-new datum
        against the frontier. With the cuckoo and purge_404, purged keys
        are delete()d, so they can be discovered again; that is only
        membership-safe if every created row owns an inserted copy, so
        the split inserts its false-positive creations too."""
        fr = (self.store.read(self.spark, "frontier")
              if self.store.exists("frontier") else None)
        seen_next = None
        if self.filt is None or fr is None:
            merged = updatedb(self.spark, fr, fetch_results, crawl_parse, now,
                              **upd_kw)
        else:
            deletes_on = upd_kw.get("purge_404", False) and isinstance(
                self.filt, CuckooSeenFilter)
            merged, seen_next = updatedb_seen_split(
                self.spark, fr, fetch_results, crawl_parse, now, self.filt,
                self.read(fr), audit=audit, insert_created=deletes_on,
                **upd_kw,
            )
            if deletes_on:
                # purged keys leave the filter UNLESS this merge's parse
                # stream recreates them (updatedb filters the old row
                # out before the join, so a purged URL with an inbound
                # link re-enters as db_unfetched and must stay "seen")
                gone = fr.filter(F.col("status") == STATUS_DB_GONE).join(
                    crawl_parse.select("url").distinct(), "url", "left_anti")
                seen_next = self.filt.delete(seen_next, gone.select("url_hash"))
        self.commit_frontier(merged, seen_next, write)

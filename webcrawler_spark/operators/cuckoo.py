"""The cuckoo-filter kernels of the URL-seen sidecar (north_star:
"partitioned Bloom/cuckoo filter maintained per host-hash partition").

The sidecar operator — hash projection, build, per-bucket maintenance fold,
prefilter and dedup gate — lives in operators/dedup.py and is shared with
the Bloom filter; this module supplies the per-bucket numpy kernels it runs
(``CUCKOO``) and the public ``cuckoo_*`` forms over it.

Why a second filter when the Bloom filter exists: a
cuckoo filter (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014 — public paper) supports **deletion**, which a crawl actually
needs: a URL evicted from the seen set (recrawl scheduling decides a GONE /
expired page is fetchable again) must stop hitting the fast-path "seen"
answer — with a Bloom sidecar the only options are rebuild or tolerate
staleness until the next rebuild. The cuckoo sidecar removes the key's
fingerprint in place, per bucket, incrementally. It also answers "maybe"
from ONE table lookup of at most two 4-slot buckets (cache-friendly) versus
the Bloom's k=7 scattered bit probes, at a comparable false-positive rate
(16-bit fingerprints, 4-slot buckets: fpr ≈ 2·b/2^16 ≈ 0.012%).

The operator hands the kernels the two ``xxhash64`` base-hash COLUMNS
(input_hint: "no per-row Python"); the fingerprint and both candidate
buckets derive from them vectorized inside the UDF:

    f  = low 16 bits of h2, 0 mapped to 1      (0 = empty slot sentinel)
    i1 = h1 mod m
    i2 = i1 XOR (f · 0x5bd1e995 mod m)         (partial-key cuckooing)

so i2(i1, f) is an involution: either bucket recovers the other without the
key — that is what makes displacement (and deletion) possible.

Determinism (the engine's cross-run contract): a cuckoo table's layout
depends on insert order, so every build/upsert inserts in SORTED ``(h1,
h2)`` order and evictions pick victims round-robin — the table BYTES are a
pure function of the key set, independent of arrow batching or task
placement. Duplicate (h1, h2) pairs collapse before insert (the seen set is
a set; multiset duplicates would burn slots and break delete-once).

Capacity under skew: a fixed-size cuckoo filter ABORTS when a bucket's
keys exceed ~95% of its slots — and a Zipf-hot host-hash bucket will (a
4M-page bench crawl hit this at 89% load on the hottest of 64 buckets).
The sidecar therefore stores a CHAIN of sub-filters per bucket
(RedisBloom's scalable-filter pattern): inserts go to the newest
sub-filter, a full one is sealed and a double-size successor appended,
membership ORs the chain, deletes probe oldest→newest. Growth points are
deterministic (sorted insert + undo-on-fail displacement), so chain bytes
remain a pure function of the key set.

Deletion contract (standard cuckoo-filter caveat, stated honestly): only
delete keys that were inserted. Deleting removes ONE copy of the fingerprint
from the key's buckets; deleting a never-inserted key can strip a colliding
key's fingerprint (a false negative). The crawl only deletes from
``url_seen`` rows, which satisfies the contract by construction — and for a
chain of ONE sub-filter that is sufficient: n colliding inserted keys store
n copies, so deleting d of them leaves n-d ≥ the survivors' count. A CHAIN
weakens this (ADVICE r4): sub-filters have different bucket masks, so the
oldest→newest probe can remove a collider's copy from an old sub-filter
while the deleted key's own copy sits in a newer one — the collider's copy
was its only one VISIBLE AT ITS OWN PROBE POSITIONS, so it goes false
negative. Probability per delete ≈ the fingerprint-collision rate
(2·SLOTS/2^16 ≈ 0.012% per resident colliding key, and only when the bucket
has actually chained). The exact repair exists because the caller holds the
exact surviving key set: ``cuckoo_sidecar_delete(..., kept=...)`` re-probes
the kept keys of every touched bucket after the deletes and re-inserts any
stripped fingerprint — restoring no-false-negatives exactly (a re-inserted
copy can at worst re-create a FALSE POSITIVE for the deleted key, which the
engine's maybe→exact-anti-join path absorbs).
jobs/recrawl.py passes ``kept`` on eviction.

Scale shape is the shared operator's: state lives per host_hash bucket
(co-located with the frontier partitioning), built and maintained over
int64 hash columns — URL strings never cross into Python, the seen table
never reshuffles for the fast path, and per-round maintenance is
O(|delta| + touched buckets), never a rebuild. The kernels keep the whole
chain in one sidecar row's ``tables`` cell (one binary per sub-filter).

Sizing at a 10^10-URL frontier: insertion is a per-key Python loop
(~1.3e5 keys/s/core measured — the price of displacement; probes are
vectorized at ~1e7 keys/s/core), so ``n_buckets`` must scale with the seen
set: at 10^10 urls use n_buckets ≈ 2^16 so a bucket holds ~1.5e5 keys
(m_buckets 2^16 → 94% max load) and a full build is ~1 s/task × 65k
parallel tasks; per-round delta upserts touch only the delta's buckets.
The Bloom sidecar stays the build-throughput choice; this filter is the
one you can delete from.
"""

from __future__ import annotations

from functools import partial
from typing import Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .dedup import (
    SidecarKernels,
    sidecar_build,
    sidecar_dedup,
    sidecar_maintain,
    sidecar_prefilter,
)

SLOTS = 4                 # entries per bucket (b=4: the paper's sweet spot)
MAX_KICKS = 500           # displacement bound before "filter full"
_FP_MUL = np.uint64(0x5BD1E995)  # fingerprint -> alt-bucket offset hash


def _fingerprints(h2: np.ndarray) -> np.ndarray:
    f = (np.ascontiguousarray(h2, dtype=np.int64).view(np.uint64)
         & np.uint64(0xFFFF)).astype(np.uint16)
    f[f == 0] = 1
    return f


def _i1(h1: np.ndarray, m: int) -> np.ndarray:
    return (np.ascontiguousarray(h1, dtype=np.int64).view(np.uint64)
            & np.uint64(m - 1)).astype(np.int64)


def _alt(i: np.ndarray, f: np.ndarray, m: int) -> np.ndarray:
    off = (f.astype(np.uint64) * _FP_MUL) & np.uint64(m - 1)
    return (i.astype(np.uint64) ^ off).astype(np.int64)


def _dedup_sort(h1: np.ndarray, h2: np.ndarray) -> Tuple[np.ndarray, np.ndarray]:
    """Unique (h1, h2) pairs in sorted order — the deterministic insert
    sequence regardless of how arrow batches sliced the partition."""
    pairs = np.stack(
        [np.ascontiguousarray(h1, np.int64), np.ascontiguousarray(h2, np.int64)],
        axis=1,
    )
    uniq = np.unique(pairs, axis=0)
    return uniq[:, 0], uniq[:, 1]


def cuckoo_new(m_buckets: int) -> np.ndarray:
    assert m_buckets & (m_buckets - 1) == 0, "m_buckets must be a power of two"
    return np.zeros((m_buckets, SLOTS), dtype=np.uint16)


def _try_insert(table: np.ndarray, f: int, i1: int) -> bool:
    """Insert one fingerprint with the deterministic round-robin kick walk.
    Returns False — with the table UNCHANGED (the displacement path is
    undone) — when MAX_KICKS is hit, so a full table never silently drops a
    displaced victim (that would be a false negative)."""
    m = table.shape[0]
    mask = m - 1
    mul = int(_FP_MUL)
    cur_f, cur_i = int(f), int(i1)
    path = []  # (bucket, slot, previous value) per eviction, for undo
    for kick in range(MAX_KICKS):
        row = table[cur_i]
        empty = np.flatnonzero(row == 0)
        if empty.size:
            row[empty[0]] = cur_f
            return True
        if kick == 0:
            alt = (cur_i ^ (cur_f * mul)) & mask
            row2 = table[alt]
            empty2 = np.flatnonzero(row2 == 0)
            if empty2.size:
                row2[empty2[0]] = cur_f
                return True
        slot = kick % SLOTS
        victim = int(row[slot])
        path.append((cur_i, slot, victim))
        row[slot] = cur_f
        cur_f = victim
        cur_i = (cur_i ^ (cur_f * mul)) & mask
    for b, s, old in reversed(path):
        table[b][s] = old
    return False


def chain_insert_hashed(tables: list, h1: np.ndarray, h2: np.ndarray) -> int:
    """Insert into a CHAINED filter (RedisBloom-style scaling): keys go to
    the newest sub-filter; when its displacement bound is hit the chain
    appends a fresh sub-filter of DOUBLE size and the key (whose insert
    left the full table untouched — see :func:`_try_insert`) lands there.
    Mutates ``tables`` (a list of per-sub-filter arrays) in place, possibly
    appending; returns fingerprints stored. Deterministic: growth points
    are a pure function of the sorted key sequence, so chain bytes stay a
    pure function of the key set.

    This is what makes the sidecar safe under hot-bucket skew at frontier
    scale: a Zipf-hot host-hash bucket grows its chain instead of aborting
    the crawl (found by a 4M-page bench run at 89% bucket load)."""
    assert tables, "chain must start with at least one sub-filter"
    u1, u2 = _dedup_sort(h1, h2)
    fs = _fingerprints(u2)
    for f, hh1 in zip(fs.tolist(), u1.tolist()):
        last = tables[-1]
        i1 = int(np.int64(hh1).view(np.uint64) & np.uint64(last.shape[0] - 1))
        if not _try_insert(last, f, i1):
            grown = cuckoo_new(last.shape[0] * 2)
            tables.append(grown)
            gi1 = int(np.int64(hh1).view(np.uint64) & np.uint64(grown.shape[0] - 1))
            # NOT an assert: under python -O asserts are stripped and the
            # fingerprint would silently never be stored — a false negative
            # violating the sidecar contract (ADVICE r4)
            if not _try_insert(grown, f, gi1):  # fresh table: always fits
                raise RuntimeError(
                    "insert into freshly grown cuckoo sub-filter failed "
                    f"(m_buckets={grown.shape[0]})"
                )
    return len(fs)


def chain_contains_hashed(tables: list, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Membership across the chain: OR of each sub-filter's vectorized
    probe. No false negatives for inserted-and-not-deleted keys."""
    if not len(h1):
        return np.zeros(0, dtype=bool)
    out = np.zeros(len(h1), dtype=bool)
    for t in tables:
        out |= cuckoo_maybe_contains_hashed(t, h1, h2)
    return out


def chain_delete_hashed(tables: list, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Delete ONE stored copy per key, probing sub-filters oldest→newest
    (insertion order). Returns the per-unique-key deleted mask.

    Residual caveat (module docstring, "Deletion contract"): in a chain the
    removed copy can belong to a fingerprint-colliding key resident in a
    DIFFERENT sub-filter, leaving that key false-negative. Callers holding
    the exact surviving key set should repair with
    :func:`chain_reinsert_missing` (``cuckoo_sidecar_delete(kept=...)``
    does)."""
    mul = int(_FP_MUL)
    u1, u2 = _dedup_sort(h1, h2)
    fs = _fingerprints(u2)
    out = np.zeros(len(fs), dtype=bool)
    for k, (f, hh1) in enumerate(zip(fs.tolist(), u1.tolist())):
        for t in tables:
            m = t.shape[0]
            i1 = int(np.int64(hh1).view(np.uint64) & np.uint64(m - 1))
            done = False
            for b in (i1, (i1 ^ (int(f) * mul)) & (m - 1)):
                row = t[b]
                hits = np.flatnonzero(row == f)
                if hits.size:
                    row[hits[0]] = 0
                    out[k] = True
                    done = True
                    break
            if done:
                break
    return out


def chain_reinsert_missing(tables: list, h1: np.ndarray, h2: np.ndarray) -> int:
    """Repair pass after :func:`chain_delete_hashed`: probe the chain for
    every SURVIVING key and re-insert the ones a colliding delete stripped
    (module docstring, "Deletion contract"). Vectorized probe over the full
    kept set, Python-loop insert over only the (rare) missing ones; returns
    the number re-inserted. Deterministic: missing keys re-insert in the
    same sorted (h1, h2) order as every other insert path."""
    if not len(h1):
        return 0
    u1, u2 = _dedup_sort(h1, h2)
    present = chain_contains_hashed(tables, u1, u2)
    missing = ~present
    if not missing.any():
        return 0
    return chain_insert_hashed(tables, u1[missing], u2[missing])


def cuckoo_maybe_contains_hashed(
    table: np.ndarray, h1: np.ndarray, h2: np.ndarray
) -> np.ndarray:
    """Vectorized membership: fingerprint present in either candidate
    bucket. No false negatives for inserted-and-not-deleted keys."""
    if not len(h1):
        return np.zeros(0, dtype=bool)
    m = table.shape[0]
    fs = _fingerprints(np.asarray(h2))
    i1s = _i1(np.asarray(h1), m)
    i2s = _alt(i1s, fs, m)
    hit1 = (table[i1s] == fs[:, None]).any(axis=1)
    hit2 = (table[i2s] == fs[:, None]).any(axis=1)
    return hit1 | hit2


def _to_bytes(table: np.ndarray) -> bytes:
    return table.astype("<u2").tobytes()


def _from_bytes(blob: bytes) -> np.ndarray:
    arr = np.frombuffer(bytes(blob), dtype="<u2").astype(np.uint16)
    return arr.reshape(len(arr) // SLOTS, SLOTS).copy()




def _chain_to_bytes(tables: list) -> list:
    return [_to_bytes(t) for t in tables]


def _chain_from_bytes(blobs) -> list:
    # each sub-filter's m is implied by its byte length (m·SLOTS·2 bytes),
    # so the chain needs no per-table metadata
    return [_from_bytes(bytes(b)) for b in blobs]


# ---------------------------------------------------------------------------
# The sidecar operator's cuckoo kernels (operators/dedup.py runs them)
# ---------------------------------------------------------------------------


def _cuckoo_upsert(blobs, h1: np.ndarray, h2: np.ndarray) -> Tuple[list, int]:
    chain = _chain_from_bytes(blobs)
    n = chain_insert_hashed(chain, h1, h2)
    return _chain_to_bytes(chain), n


def _cuckoo_build(h1: np.ndarray, h2: np.ndarray, m_buckets: int) -> Tuple[list, int]:
    return _cuckoo_upsert([_to_bytes(cuckoo_new(m_buckets))], h1, h2)


def _cuckoo_probe(blobs, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    return chain_contains_hashed(_chain_from_bytes(blobs), h1, h2)


def _cuckoo_delete(blobs, h1, h2, kept_h1, kept_h2) -> Tuple[list, int]:
    """Delete, then repair the kept keys a colliding delete stripped."""
    chain = _chain_from_bytes(blobs)
    change = -int(chain_delete_hashed(chain, h1, h2).sum())
    change += chain_reinsert_missing(chain, kept_h1, kept_h2)
    return _chain_to_bytes(chain), change


CUCKOO_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType()),
        StructField("m_buckets", LongType()),
        StructField("tables", ArrayType(BinaryType())),
        StructField("n_keys", LongType()),
    ]
)

CUCKOO = SidecarKernels(
    CUCKOO_SCHEMA, True, _cuckoo_build, _cuckoo_upsert, _cuckoo_probe, _cuckoo_delete
)


def cuckoo_sidecar_build(
    seen: DataFrame,
    n_buckets: int = 64,
    m_buckets: int = 1 << 14,
    url_col: str = "url",
    host_hash_col: str = "host_hash",
) -> DataFrame:
    """Per-host_hash-bucket CHAINED cuckoo filters from a url_seen table.
    ``m_buckets`` sizes the first sub-filter only: a bucket whose key count
    outgrows it (hot-host Zipf skew) chains doubled sub-filters instead of
    failing. Each task gathers its bucket's full hash set first so the
    sorted-insert determinism holds across arrow batch boundaries."""
    return sidecar_build(CUCKOO, seen, n_buckets, m_buckets, url_col, host_hash_col)


def cuckoo_sidecar_upsert(
    sidecar: DataFrame,
    delta_seen: DataFrame,
    n_buckets: int = 64,
    m_buckets: int = 1 << 14,
    url_col: str = "url",
    host_hash_col: str = "host_hash",
) -> DataFrame:
    """Per-round incremental maintenance: insert the round's new_seen delta
    into the persisted sidecar — O(|delta| + touched buckets). The delta's
    keys must be new (the round's post-anti-join new_seen rows are, by
    construction); re-upserting an existing key would store a second copy
    and skew delete-once accounting. ``m_buckets`` sizes tables for buckets
    the build never saw (first keys for a new host-hash range)."""
    return sidecar_maintain(
        CUCKOO, sidecar, delta_seen, "upsert", m_buckets, n_buckets, url_col,
        host_hash_col,
    )


def cuckoo_sidecar_delete(
    sidecar: DataFrame,
    deletions: DataFrame,
    n_buckets: int = 64,
    url_col: str = "url",
    host_hash_col: str = "host_hash",
    kept: Optional[DataFrame] = None,
) -> DataFrame:
    """Evict keys (recrawl eligibility): remove one fingerprint copy per
    deleted URL. Callers pass rows FROM url_seen (the deletion contract).

    ``kept`` — the exact SURVIVING seen rows (url_seen minus deletions) —
    enables the chain-collision repair (module docstring, "Deletion
    contract"): after the deletes, every touched bucket re-probes its kept
    keys and re-inserts any fingerprint a colliding delete stripped,
    restoring the no-false-negative contract exactly. The kept set is
    semi-joined to the buckets the deletions touch before it is shuffled,
    so the repair is never corpus-wide: its cost is a vectorized probe over
    the touched buckets' kept keys only, and an untouched bucket's row
    passes through byte for byte. Without ``kept`` the raw delete runs with
    the documented ~0.012%-per-collision residual."""
    return sidecar_maintain(
        CUCKOO, sidecar, deletions, "delete", 0, n_buckets, url_col,
        host_hash_col, kept=kept,
    )


# (candidates, sidecar, url_col, host_hash_col, n_buckets, cache_registry)
cuckoo_prefilter = partial(sidecar_prefilter, CUCKOO)
# (candidates, seen, sidecar, url_col, n_buckets, cache_registry)
dedup_against_seen_cuckoo = partial(sidecar_dedup, CUCKOO)

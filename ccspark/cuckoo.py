"""Cuckoo-filter kernels — the URL-seen set's second accelerator backend.

The north_rule names the URL-seen structure "bloom/cuckoo filter"; the
reference itself only ever builds blooms (Statistics.java:21-51). The
cuckoo filter (partial-key cuckoo hashing: fingerprints in a 4-slot
bucket array, two candidate buckets per key, i2 = i1 XOR H(fp)) buys two
things a bloom cannot offer the crawl:

1. **Deletion** — a recrawl policy removes URLs from the seen set so the
   scheduler re-admits them; a bloom must rebuild whole bitmaps from the
   exact table, a cuckoo filter clears one slot per removed key.
2. **Lower false-positive rate per bit at high load**: fpp ≈ 2b/2^f =
   8/65536 ≈ 0.012% at f=16, b=4 — every false positive costs a
   redundant exact-join probe, so fpp is directly shuffle volume.

The trade: ~2 bytes/key at 95% max load vs the bloom's ~1.2 bytes/key at
3% fpp, and insertion does eviction walks instead of blind ORs. At the
1e10-URL design point (SCALE.md): 39e6 keys per partition → 2^24 cuckoo
buckets × 4 slots × 2 B = 128 MiB/partition ≈ 32 GiB total, distributed
exactly like the bloom bitmaps (one partition's table per task, never
collected or broadcast).

Everything here is pure numpy over pandas-hashed batches — no per-row
Python on the hot path (insertion's eviction walk iterates over *rounds
of the whole pending batch*, each round a handful of vectorized
gather/scatter ops; the walk length is bounded and load-tested).

All structure parameters follow the published cuckoo-filter design
(Fan, Andersen, Kaminsky, Mitzenmacher: "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT 2014): b=4 slots, 16-bit fingerprints,
partial-key alternate bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

SLOTS = 4                      # slots per cuckoo bucket (b=4)
_FP_KEY = "ccsparkcuckoofp1"   # pandas hash key (16 bytes) for fingerprints
_IX_KEY = "ccsparkcuckooix1"   # pandas hash key (16 bytes) for primary bucket
_ODD_MULT = np.uint64(0x5BD1E995)   # alternate-bucket fingerprint mixer
_MAX_ROUNDS = 512              # vectorized eviction-walk round bound


def new_table(nbuck: int) -> np.ndarray:
    """(nbuck, SLOTS) uint16 fingerprint array; 0 = empty slot."""
    assert nbuck & (nbuck - 1) == 0, "cuckoo bucket count must be a power of 2"
    return np.zeros((nbuck, SLOTS), dtype=np.uint16)


def from_bytes(raw: bytes) -> np.ndarray:
    t = np.frombuffer(raw, dtype=np.uint16)
    return t.reshape(len(t) // SLOTS, SLOTS).copy()


def to_bytes(table: np.ndarray) -> bytes:
    return table.astype(np.uint16, copy=False).tobytes()


def key_parts(urls: pd.Series, nbuck: int) -> tuple[np.ndarray, np.ndarray]:
    """(fingerprints 1..65535, primary bucket) — vectorized, two
    independent pandas 64-bit hashes per key (categorize=False, as in
    seen._bit_positions, so a key's hash never depends on its batch)."""
    hf = pd.util.hash_pandas_object(urls, index=False, hash_key=_FP_KEY,
                                    categorize=False).to_numpy()
    hi = pd.util.hash_pandas_object(urls, index=False, hash_key=_IX_KEY,
                                    categorize=False).to_numpy()
    fp = (hf % np.uint64(65535)).astype(np.uint16) + np.uint16(1)
    i1 = (hi & np.uint64(nbuck - 1)).astype(np.int64)
    return fp, i1


def alt_bucket(fp: np.ndarray, b: np.ndarray, nbuck: int) -> np.ndarray:
    """Partial-key alternate bucket: b XOR H(fp). An involution —
    alt(fp, alt(fp, b)) == b — so either bucket recovers the other from
    the stored fingerprint alone (what makes eviction possible without
    the original key)."""
    h = (fp.astype(np.uint64) * _ODD_MULT) & np.uint64(nbuck - 1)
    return np.bitwise_xor(b.astype(np.int64), h.astype(np.int64))


def _try_place(table: np.ndarray, fp: np.ndarray,
               b: np.ndarray) -> np.ndarray:
    """One contention-aware vectorized placement round: each key tries
    the free slots of its current bucket; when several pending keys
    target one bucket, the first `free` of them (stable order) win.
    Returns the placed mask."""
    order = np.argsort(b, kind="stable")
    b_s, fp_s = b[order], fp[order]
    uniq, start, counts = np.unique(b_s, return_index=True, return_counts=True)
    rank = np.arange(len(b_s)) - np.repeat(start, counts)
    rows = table[uniq]                                   # (u, SLOTS)
    free_per = (rows == 0).sum(axis=1)
    can = rank < np.repeat(free_per, counts)
    if not can.any():
        return np.zeros(len(b), dtype=bool)
    # rank-th free slot of each unique bucket: stable argsort puts free
    # slot indices first, in slot order
    slot_order = np.argsort(rows != 0, axis=1, kind="stable")
    row_of_key = np.repeat(np.arange(len(uniq)), counts)
    slots = slot_order[row_of_key[can], rank[can]]
    table[b_s[can], slots] = fp_s[can]
    placed = np.zeros(len(b), dtype=bool)
    placed[order[can]] = True
    return placed


def insert(table: np.ndarray, fp: np.ndarray, i1: np.ndarray) -> None:
    """Batch insert with a vectorized random-walk eviction: every round
    the whole pending batch attempts placement at once, alternates to
    the partner bucket, and (every other round) the first pending key
    per bucket swaps with a rotating victim slot whose fingerprint
    rejoins the batch at ITS partner bucket. Each placement lands in one
    of the key's two legal buckets by construction (alt is an
    involution), so correctness is invariant; only termination is load-
    dependent, bounded by _MAX_ROUNDS and the documented sizing."""
    nbuck = table.shape[0]
    fp = fp.astype(np.uint16, copy=True)
    b = i1.astype(np.int64, copy=True)
    for rnd in range(_MAX_ROUNDS):
        if len(fp) == 0:
            return
        placed = _try_place(table, fp, b)
        fp, b = fp[~placed], b[~placed]
        if len(fp) == 0:
            return
        if rnd == 0:
            # try the partner bucket once before any eviction
            b = alt_bucket(fp, b, nbuck)
            continue
        # eviction walk: one victim swap per distinct full bucket this
        # round, AT the key's current bucket; the victim walks on to ITS
        # partner (never back to where it was evicted from — toggling
        # back livelocks the walk in one bucket's orbit). Victim slot
        # rotates per (bucket, round) so repeat visits displace
        # different keys.
        uniq, first = np.unique(b, return_index=True)
        vslot = (uniq + rnd) % SLOTS
        victims = table[uniq, vslot].copy()
        table[uniq, vslot] = fp[first]
        keep = np.ones(len(fp), dtype=bool)
        keep[first] = False
        fp = np.concatenate([fp[keep], victims])
        b = np.concatenate([b[keep], alt_bucket(victims, uniq, nbuck)])
    raise RuntimeError(
        "cuckoo filter over capacity: size nbuck for expected keys "
        f"(nbuck={nbuck}, pending={len(fp)})")


def contains(table: np.ndarray, fp: np.ndarray, i1: np.ndarray) -> np.ndarray:
    """Vectorized membership: fingerprint present in either candidate
    bucket. No false negatives for inserted keys; false positives at
    ≈ 2·SLOTS/2^16."""
    nbuck = table.shape[0]
    i2 = alt_bucket(fp, i1, nbuck)
    f = fp[:, None]
    return ((table[i1] == f).any(axis=1)) | ((table[i2] == f).any(axis=1))


def delete(table: np.ndarray, fp: np.ndarray, i1: np.ndarray) -> np.ndarray:
    """Remove ONE stored occurrence per requested key (the cuckoo
    filter's deletion contract: delete only keys that were inserted).
    Vectorized rounds: each round clears the first matching slot per
    distinct (bucket, slot) target; keys whose target was taken by a
    twin retry against the updated table. Returns the deleted mask."""
    nbuck = table.shape[0]
    fp = fp.astype(np.uint16, copy=False)
    b1 = i1.astype(np.int64, copy=False)
    b2 = alt_bucket(fp, b1, nbuck)
    done = np.zeros(len(fp), dtype=bool)
    pending = np.arange(len(fp))
    while len(pending):
        pf = fp[pending][:, None]
        m1 = table[b1[pending]] == pf                  # (n, SLOTS)
        m2 = table[b2[pending]] == pf
        hit1, hit2 = m1.any(axis=1), m2.any(axis=1)
        found = hit1 | hit2
        tgt_b = np.where(hit1, b1[pending], b2[pending])
        tgt_s = np.where(hit1, m1.argmax(axis=1), m2.argmax(axis=1))
        if not found.any():
            break
        cand = np.flatnonzero(found)
        # one clear per distinct (bucket, slot): first claimant wins
        flat = tgt_b[cand] * SLOTS + tgt_s[cand]
        _, first = np.unique(flat, return_index=True)
        win = cand[first]
        table[tgt_b[win], tgt_s[win]] = 0
        done[pending[win]] = True
        lose = np.ones(len(pending), dtype=bool)
        lose[win] = False
        lose &= found            # keys never found stop retrying
        pending = pending[lose]
    return done


def load_factor(table: np.ndarray) -> float:
    return float((table != 0).mean())

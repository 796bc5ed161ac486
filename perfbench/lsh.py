"""The candidate pairs of ``TextDedup``'s MinHash LSH, computed apart from Spark.

``d2_minhash_lsh`` and ``dc2_incremental_clusters`` find near-duplicate
document pairs by MinHash banding (32 hashes in 16 bands of 2) and then
verify every candidate with exact shingle Jaccard. Their output is
therefore the exact-Jaccard pair set (the catalog's DuckDB oracle)
restricted to the pairs that share at least one band. A pair at
similarity s is a candidate with probability 1-(1-s^2)^16 (0.99 at 0.5),
so on some inputs the exact set holds a pair the operator does not find,
as its documentation says. This module recomputes the banding bit for
bit, so the answer the operator is checked against is exact on every
seed: a missing pair that shares a band, or an extra pair, still fails.

The recipe, as in ``ShingleHashes`` and ``TextDedup``:

- shingles: the lowercased text split on single spaces (empty tokens
  kept), every window of 5 tokens joined by one space, hashed with XXH64
  (seed 42) over its UTF-8 bytes; the distinct hashes form the doc's set;
- signature: ``sig[i] = min(xxhash64(i: int, sh: long))`` over the set,
  compared as signed longs;
- band ``b`` holds ``sig[2b], sig[2b+1]``; two docs are candidates when
  one of their 16 bands is equal.
"""
import numpy as np

from gen import _P1, _P2, _P3, _P4, _P5, _fmix, _rotl

N, NUM_HASHES, BANDS = 5, 32, 16


def _xxh64_rows(b):
    """XXH64 (seed 42) of every row of a ``(k, n)`` uint8 array, as
    ``XXH64.hashUnsafeBytes`` gives it; signed longs."""
    k, n = b.shape
    seed = np.uint64(42)

    def lane(i, w):
        return np.ascontiguousarray(b[:, i:i + w]).view(f"<u{w}").ravel().astype(np.uint64)

    def rnd(acc, x):
        return _rotl(acc + x * _P2, 31) * _P1

    i = 0
    with np.errstate(over="ignore"):
        if n >= 32:
            v = [np.full(k, seed + _P1 + _P2), np.full(k, seed + _P2),
                 np.full(k, seed), np.full(k, seed - _P1)]
            while i + 32 <= n:
                for j in range(4):
                    v[j] = rnd(v[j], lane(i, 8))
                    i += 8
            h = _rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)
            for j in range(4):
                h = (h ^ rnd(np.uint64(0), v[j])) * _P1 + _P4
        else:
            h = np.full(k, seed + _P5)
        h = h + np.uint64(n)
        while i + 8 <= n:
            h = _rotl(h ^ rnd(np.uint64(0), lane(i, 8)), 27) * _P1 + _P4
            i += 8
        if i + 4 <= n:
            h = _rotl(h ^ (lane(i, 4) * _P1), 23) * _P2 + _P3
            i += 4
        while i < n:
            h = _rotl(h ^ (b[:, i].astype(np.uint64) * _P5), 11) * _P1
            i += 1
        return _fmix(h).view(np.int64)


def _hash_int(v, seed):
    """``XXH64.hashInt`` of one int under a seed."""
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(4)
        h = h ^ (np.uint64(v & 0xFFFFFFFF) * _P1)
        return _fmix(_rotl(h, 23) * _P2 + _P3)


def _hash_long(x, seed):
    """``XXH64.hashLong`` of an array of longs under one seed."""
    with np.errstate(over="ignore"):
        h = seed + _P5 + np.uint64(8)
        h = h ^ (_rotl(x * _P2, 31) * _P1)
        return _fmix(_rotl(h, 27) * _P1 + _P4)


def shingle_sets(texts):
    """Per text, its distinct shingle hashes (an int64 array)."""
    docs = []
    for t in texts:
        toks = [] if t is None else t.lower().split(" ")
        docs.append({" ".join(toks[w:w + N]).encode()
                     for w in range(len(toks) - N + 1)})
    by_len = {}
    for s in set().union(*docs):
        by_len.setdefault(len(s), []).append(s)
    hashes = {}
    for n, group in by_len.items():  # one vectorized XXH64 per length
        rows = np.frombuffer(b"".join(group), dtype=np.uint8).reshape(len(group), n)
        hashes.update(zip(group, _xxh64_rows(rows).tolist()))
    return [np.array(sorted({hashes[s] for s in d}), dtype=np.int64) for d in docs]


def candidate_pairs(ids, texts):
    """Pairs ``(a, b)``, ``a < b``, of doc ids that share a MinHash band."""
    sets = shingle_sets(texts)
    keep = [k for k, s in enumerate(sets) if len(s)]  # no shingle, no signature
    if not keep:
        return set()
    doc = np.asarray(ids, dtype=np.int64)[keep]
    sizes = np.array([len(sets[k]) for k in keep])
    sh = np.concatenate([sets[k] for k in keep]).view(np.uint64)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    sig = np.empty((len(keep), NUM_HASHES), dtype=np.int64)
    for i in range(NUM_HASHES):
        seed = _hash_int(i, np.uint64(42))
        sig[:, i] = np.minimum.reduceat(_hash_long(sh, seed).view(np.int64), starts)
    r = NUM_HASHES // BANDS
    pairs = set()
    for b in range(BANDS):
        band = np.ascontiguousarray(sig[:, b * r:(b + 1) * r])
        _, group = np.unique(band, axis=0, return_inverse=True)
        group = group.ravel()
        order = np.argsort(group, kind="stable")
        bounds = np.flatnonzero(np.diff(group[order])) + 1
        for members in np.split(doc[order], bounds):
            if len(members) > 1:
                m = np.sort(members).tolist()
                pairs.update((m[x], m[y]) for x in range(len(m))
                             for y in range(x + 1, len(m)))
    return pairs

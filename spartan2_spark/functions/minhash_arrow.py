"""Vectorized (Arrow/numpy) minhash signature kernel — the signature
stage of ``minhash_lsh_pairs``.

A SQL formulation of the signature stage evaluates two nested
higher-order ``transform`` lambdas per row (shingle substrings, then
k re-hash/min slots). Catalyst does not codegen higher-order-function
lambdas — they run on the interpreted expression evaluator — so the
stage costs ~10 s at sf0.1 for only ~1M shingles. This kernel computes
the *identical values* (same distinct-shingle poly hashes, same k
affine-minhash slots) in one ``mapInArrow`` pass with numpy batch
arithmetic: measured >20x on the signature stages.

Exact semantics reproduced (oracle-parity contract — the DuckDB twin
in ``__spark_entry__._minhash_prelude`` recomputes these values):

* shingles: positions ``1 .. greatest(len - n + 1, 1)``, i.e. docs
  shorter than ``n`` chars contribute ONE shingle = the whole text
  (and the empty string hashes like Spark: ``split('', '') = ['']``,
  ``ascii('') = 0`` -> hash 0);
* per-shingle hash: fold ``h = (h*31 + codepoint) % (2^31-1)`` over
  the characters (``operators.text._poly_hash``);
* the doc's shingle-hash SET (array_distinct upstream + the
  set-semantics of array_min/array_intersect/array_union make only
  the set observable);
* slot j: ``min(((2j+1)*h + j^2+7) % (2^31-1))`` over the set.

Everything stays mod-2^31-1 so all intermediates fit int64 with wide
margins (max product: codepoint(2^21) * 31^(n-1)).

Used by ``dedup.minhash_lsh_pairs``, whose only hash path this is.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa

__all__ = ["minhash_batches", "poly_shingle_set", "bucket_pairs_verify_batches"]

_P = np.int64(2147483647)  # 2^31 - 1, matches text._POLY_P

# Chunk bound for the k x shingles affine-transform matrix — now sized
# for CACHE RESIDENCY, not just peak memory. The batch is processed in
# row chunks holding at most this many shingle hashes, so the transient
# `transformed` array is k * _CHUNK_SHINGLES * 8 bytes (k=64 -> 8 MiB):
# small enough to stay in L2/L3 through the multiply/add/mod/reduceat
# sequence. Measured on the sf0.1 gate corpus (1.02M shingles, k=32):
# 1<<20 chunks stream a 256 MiB transient through main memory at 3.6 s;
# 1<<14 runs the identical arithmetic in 0.17 s (21x) because every
# element is touched 4 times while cache-hot. Values are bit-identical
# (the chunking loop already aligns to document boundaries). The
# original memory motivation still holds a fortiori: a 65536-row batch
# of ~1 KB docs would otherwise materialize a ~30 GB matrix per python
# worker (measured fatal on the 41M-row cluster-scaling ladder with 8
# concurrent workers on a 128 GiB box).
_CHUNK_SHINGLES = 1 << 14


def _fold_hash(codes: np.ndarray) -> int:
    """Whole-string poly hash (short-doc / empty-doc path)."""
    h = np.int64(0)
    for c in codes:
        h = (h * 31 + np.int64(c)) % _P
    return int(h)


def poly_shingle_set(text: str, n: int) -> np.ndarray:
    """Sorted distinct poly hashes of one doc's char n-gram shingles."""
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    length = codes.shape[0]
    if length <= n:
        # one shingle: substring(text, 1, n) == the whole text
        return np.array([_fold_hash(codes)], dtype=np.int64)
    pows = (31 ** np.arange(n - 1, -1, -1, dtype=np.int64)) % _P
    nwin = length - n + 1
    acc = np.zeros(nwin, dtype=np.int64)
    for j in range(n):
        acc += codes[j : j + nwin] * pows[j]
        # codepoint < 2^21, pow < 2^31 -> addend < 2^52; reduce each
        # round so the running sum never approaches 2^63
        acc %= _P
    return np.unique(acc)


def minhash_batches(
    batches: Iterator[pa.RecordBatch],
    *,
    n: int,
    k: int,
    id_field: str = "id",
    text_field: str = "text",
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: (id, text) -> (id, hv: list<int64> distinct
    shingle hashes (sorted), sig: list<int64> of k minhash slots)."""
    a = np.array([2 * j + 1 for j in range(k)], dtype=np.int64)[:, None]
    b = np.array([j * j + 7 for j in range(k)], dtype=np.int64)[:, None]
    for batch in batches:
        ids = batch.column(id_field)
        texts = batch.column(text_field).to_pylist()
        sets = [poly_shingle_set(t if t is not None else "", n) for t in texts]
        lens = np.array([s.shape[0] for s in sets], dtype=np.int64)
        nrows = len(texts)
        start = 0
        while start < nrows:
            # grow the chunk until the shingle budget is hit; always
            # admit at least one row so an over-budget doc still flows
            end = start
            tot = 0
            while end < nrows and (
                end == start or tot + lens[end] <= _CHUNK_SHINGLES
            ):
                tot += lens[end]
                end += 1
            clens = lens[start:end]
            flat = (
                np.concatenate(sets[start:end])
                if end > start
                else np.empty(0, dtype=np.int64)
            )
            offsets = np.zeros(clens.shape[0] + 1, dtype=np.int64)
            np.cumsum(clens, out=offsets[1:])
            # k x chunk affine transforms, then per-doc segmented
            # minima. a*h < 2^37 -> int64-safe
            transformed = (a * flat[None, :] + b) % _P
            if flat.shape[0]:
                sig = np.minimum.reduceat(transformed, offsets[:-1], axis=1)
            else:
                sig = np.empty((k, 0), dtype=np.int64)
            sig_flat = np.ascontiguousarray(sig.T).reshape(-1)
            hv_arr = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(flat, type=pa.int64()),
            )
            sig_off = pa.array(
                np.arange(0, (end - start + 1) * k, k, dtype=np.int64),
                type=pa.int32(),
            )
            sig_arr = pa.ListArray.from_arrays(
                sig_off, pa.array(sig_flat, type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays(
                [ids.slice(start, end - start), hv_arr, sig_arr],
                names=[id_field, "hv", "sig"],
            )
            start = end


def bucket_pairs_verify_batches(
    batches: Iterator[pa.RecordBatch],
    hv_map: dict,
    emit_rows: int = 1 << 17,
) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: bucket id-lists -> verified candidate pairs
    (id_a, id_b, inter, nv_a, nv_b).

    Expands each bucket's sorted id list into its i<j pairs AND scores
    them in one pass, replacing BOTH the interpreted
    ``flatten(transform(...))`` pair expansion and the pre-verify
    ``dropDuplicates`` shuffle of every raw candidate (the caller
    dedups AFTER the threshold filter, on the far smaller survivor
    set — duplicate pairs score identically, so the late dedup is
    value-neutral).

    Vectorized per ANCHOR, not per pair: for anchor doc i the
    intersection sizes against ALL partners j>i come from ONE
    searchsorted of the concatenated partner tail against the anchor's
    sorted set plus a segmented sum — a ~300k-pair mega-bucket costs
    ~0.1 s of numpy instead of ~1.5 s of per-pair python. Output is
    chunked at ``emit_rows`` pairs so a run of max_bucket-sized buckets
    cannot accumulate an unbounded batch.
    """
    id_type = None
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if id_type is None:
            id_type = batch.column("ids").type.value_type
        ida: list = []
        idb: list = []
        inter: list = []
        na: list = []
        nb: list = []
        pending = 0

        def flush():
            out = pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(ida), type=id_type)
                    if ida and isinstance(ida[0], np.ndarray)
                    else pa.array(
                        [x for part in ida for x in part], type=id_type
                    ),
                    pa.array(np.concatenate(idb), type=id_type)
                    if idb and isinstance(idb[0], np.ndarray)
                    else pa.array(
                        [x for part in idb for x in part], type=id_type
                    ),
                    pa.array(np.concatenate(inter), type=pa.int64()),
                    pa.array(np.concatenate(na), type=pa.int64()),
                    pa.array(np.concatenate(nb), type=pa.int64()),
                ],
                names=["id_a", "id_b", "inter", "nv_a", "nv_b"],
            )
            ida.clear(); idb.clear(); inter.clear(); na.clear(); nb.clear()
            return out

        for ids in batch.column("ids").to_pylist():
            m = len(ids)
            if m < 2:
                continue
            sets = [hv_map[i] for i in ids]
            lens = np.array([s.shape[0] for s in sets], dtype=np.int64)
            flat = np.concatenate(sets)
            offsets = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            numeric = isinstance(ids[0], (int, np.integer))
            ids_np = np.asarray(ids, dtype=np.int64) if numeric else ids
            for i in range(m - 1):
                a = sets[i]
                tail = flat[offsets[i + 1] :]
                # membership of every tail element in the anchor's set:
                # one vectorized searchsorted + clamped equality compare
                idx = np.searchsorted(a, tail)
                np.minimum(idx, a.shape[0] - 1, out=idx)
                hits = a[idx] == tail
                seg = offsets[i + 1 :] - offsets[i + 1]
                counts = np.add.reduceat(hits, seg[:-1])
                inter.append(counts.astype(np.int64))
                if numeric:
                    ida.append(
                        np.full(m - 1 - i, ids_np[i], dtype=ids_np.dtype)
                    )
                    idb.append(ids_np[i + 1 :])
                else:
                    ida.append([ids[i]] * (m - 1 - i))
                    idb.append(ids[i + 1 :])
                na.append(np.full(m - 1 - i, lens[i], dtype=np.int64))
                nb.append(lens[i + 1 :])
                pending += m - 1 - i
            if pending >= emit_rows:
                yield flush()
                pending = 0
        if pending:
            yield flush()

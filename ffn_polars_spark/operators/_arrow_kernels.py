"""Arrow-batched numpy kernels for per-document signature computation.

Kept in a module WITHOUT ``from __future__ import annotations``: pandas_udf
resolves the pd.Series type hints at decoration time, so they must be real
objects, not postponed strings.
"""

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf

_MERSENNE = (1 << 31) - 1
_SHIFTS = np.arange(64, dtype=np.uint64)[None, :]


def _stack_valid(vs, dim):
    """Stack a batch of vectors into ``(V, valid)`` where ``valid`` masks
    rows that are usable: non-NULL, the expected length, and all-finite
    (a NULL array element arrives as None and becomes NaN).

    Invalid rows get a zero placeholder so the single BLAS matmul shape
    holds; callers must emit None for ``~valid`` rows. Without this, one
    NULL embedding in a 100 TB corpus kills the whole LSH/IVF stage with
    a ragged np.stack."""
    n = len(vs)
    V = np.zeros((n, dim), dtype=np.float64)
    valid = np.zeros(n, dtype=bool)
    for i, v in enumerate(vs):
        if v is None:
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.shape == (dim,) and np.isfinite(a).all():
            V[i] = a
            valid[i] = True
    return V, valid


def make_minhash_udf(coeffs):
    """(array<long> pre-modded hashes) -> array<long> permutation minima."""
    A = np.array([c[0] for c in coeffs], dtype=np.uint64)[:, None]
    B = np.array([c[1] for c in coeffs], dtype=np.uint64)[:, None]
    P = np.uint64(_MERSENNE)

    @pandas_udf("array<long>")
    def _sig(hs: pd.Series) -> pd.Series:
        out = []
        for h in hs:
            v = np.asarray(h, dtype=np.int64).astype(np.uint64)
            # (a*h mod P + b) mod P == (a*h + b) mod P, and a, b, h < P =
            # 2^31-1 keeps a*h + b < 2^62 + 2^31 — inside uint64 with one
            # modulo instead of two (measured 1.8x on the kernel; minima
            # are bit-identical, so the SQL oracle's pmod(h*a + b, P)
            # replay is untouched)
            m = (A * v[None, :] + B) % P
            out.append(m.min(axis=1).astype(np.int64))
        return pd.Series(out)

    # The caller splits the signature array into one column per permutation
    # with element_at; marking the UDF nondeterministic stops CollapseProject
    # from inlining it into each of those projections (which would run the
    # kernel num_hashes times per row). It IS deterministic — this is purely
    # a plan-shape fence.
    return _sig.asNondeterministic()


def _make_md5_shingle_hashes():
    """Build the shingle-hash helper as a SELF-CONTAINED closure: distinct
    n-gram shingle hashes (first-occurrence order) of a token list — the
    portable 60-bit md5 hash ``int(md5(s).hexdigest()[17:32], 16)`` of each
    space-joined shingle, exactly the bytes/parse the JVM
    ``_hash64(col, "md5")`` projection produces, so signatures and the
    DuckDB oracle replay are bit-identical.

    Returned (not module-level) so the pandas_udfs below capture it BY
    VALUE: a module-global reference would make cloudpickle import this
    module — and the whole operator package behind it — inside every
    Python worker on first use (measured +3.2 s on the kernel's first
    stage)."""
    import hashlib

    import numpy as _np

    md5 = hashlib.md5

    def _hashes(tl, n):
        m = len(tl) - (n - 1)
        seen = dict.fromkeys(" ".join(tl[i : i + n]) for i in range(m))
        return _np.fromiter(
            (int(md5(s.encode()).hexdigest()[17:32], 16) for s in seen),
            dtype=_np.int64,
            count=len(seen),
        )

    return _hashes


def make_md5_minhash_udf(coeffs, n):
    """(array<string> tokens) -> struct(h64: RAW distinct 60-bit shingle
    hashes, sig: permutation minima).

    Fuses shingle construction + md5 hashing + the minhash permutations into
    one Arrow pass. The JVM alternative evaluates ``concat_ws`` and
    ``md5``/``conv`` inside array-transform lambdas, which Catalyst runs
    INTERPRETED (no whole-stage codegen inside HOF bodies) — measured 12.9 s
    of task time at sf0.1 vs ~2 s for this kernel, identical outputs (the
    guide §4.2 native-batch rule)."""
    A = np.array([c[0] for c in coeffs], dtype=np.uint64)[:, None]
    B = np.array([c[1] for c in coeffs], dtype=np.uint64)[:, None]
    P = np.uint64(_MERSENNE)
    shingle_hashes = _make_md5_shingle_hashes()

    @pandas_udf("struct<h64:array<long>,sig:array<long>>")
    def _sig(toks: pd.Series) -> pd.DataFrame:
        h64s, sigs = [], []
        for tk in toks:
            if tk is None or len(tk) < n:
                # unreachable behind the >=n-token filter; mirror the JVM
                # path's empty-set row rather than crash on a direct call
                h64s.append(np.array([], dtype=np.int64))
                sigs.append(None)
                continue
            h = shingle_hashes(list(tk), n)
            hm = h.astype(np.uint64) % P
            mins = ((A * hm[None, :] + B) % P).min(axis=1).astype(np.int64)
            # h64 carries the RAW 60-bit hashes, exactly what the JVM
            # _hash64(col, "md5") projection stores: the exact-verify
            # Jaccard intersects h64, so storing the mod-P values would
            # raise the per-hash collision probability from ~2^-60 to
            # ~2^-31 and break oracle parity on near-threshold pairs at
            # scale. The modulus applies only inside the signature math.
            h64s.append(h)
            sigs.append(mins)
        return pd.DataFrame({"h64": h64s, "sig": sigs})

    # same CollapseProject fence as make_minhash_udf: the caller splits sig
    # into per-band columns with element_at
    return _sig.asNondeterministic()


def make_md5_simhash_udf(n):
    """(array<string> tokens) -> 64-bit simhash long, fused like
    :func:`make_md5_minhash_udf` (same majority-bit rule as
    :func:`make_simhash_udf`: bit j set iff ones*2 > |hashes|)."""
    shingle_hashes = _make_md5_shingle_hashes()

    @pandas_udf("long")
    def _sig(toks: pd.Series) -> pd.Series:
        out = np.empty(len(toks), dtype=np.int64)
        for i, tk in enumerate(toks):
            if tk is None or len(tk) < n:
                out[i] = 0
                continue
            h = shingle_hashes(list(tk), n)
            v = h.view(np.uint64)
            ones = ((v[:, None] >> _SHIFTS) & np.uint64(1)).sum(axis=0)
            bits = (ones * 2 > len(v)).astype(np.uint64)
            out[i] = (bits << _SHIFTS[0]).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return _sig


def make_simhash_udf():
    """(array<long> raw xxhash64 values) -> 64-bit simhash long."""

    @pandas_udf("long")
    def _sig(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.int64)
        for i, h in enumerate(hs):
            v = np.asarray(h, dtype=np.int64).view(np.uint64)
            ones = ((v[:, None] >> _SHIFTS) & np.uint64(1)).sum(axis=0)
            bits = (ones * 2 > len(v)).astype(np.uint64)
            out[i] = (bits << _SHIFTS[0]).sum(dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return _sig


def make_bucket_udf(planes_per_table):
    """(array<float/double> vector) -> array<long> of one sign-random-
    projection bucket id per LSH table.

    All tables' hyperplanes stack into one (T*P, dim) matrix, so a batch of
    vectors is bucketed with a single BLAS matmul — the JVM alternative is
    T*P interpreted dot-product HOFs per row. Sign convention: bit j of a
    table's bucket id is set iff dot(v, plane_j) >= 0 (a zero dot counts as
    positive).
    """
    T = len(planes_per_table)
    P = len(planes_per_table[0])
    M = np.array(
        [plane for table in planes_per_table for plane in table], dtype=np.float64
    )  # (T*P, dim)
    weights = (1 << np.arange(P, dtype=np.uint64)).astype(np.int64)  # per-bit value

    @pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        V, valid = _stack_valid(vs, M.shape[1])  # (n, dim)
        bits = (V @ M.T >= 0).astype(np.int64).reshape(len(V), T, P)  # (n, T, P)
        ids = bits @ weights  # (n, T)
        return pd.Series([r if ok else None for r, ok in zip(ids, valid)])

    return _buckets


def make_cell_assign_udf(centroids, nprobe):
    """(array<float> unit vector) -> array<int> of the ``nprobe`` nearest
    coarse-centroid ids by cosine, nearest first.

    Centroids are baked into the kernel (they are small — nlist × dim) and
    the whole Arrow batch scores against them in one BLAS matmul; with
    nprobe=1 this is the IVF cell assignment, with nprobe>1 the query-side
    probe list.
    """
    C = np.asarray(centroids, dtype=np.float64)  # (nlist, dim)

    @pandas_udf("array<int>")
    def _cells(vs: pd.Series) -> pd.Series:
        V, valid = _stack_valid(vs, C.shape[1])  # (n, dim)
        sims = V @ C.T  # (n, nlist)
        p = min(nprobe, sims.shape[1])
        if p == 1:
            idx = sims.argmax(axis=1)[:, None]
        else:
            idx = np.argpartition(-sims, p - 1, axis=1)[:, :p]
            row = np.arange(len(V))[:, None]
            order = np.argsort(-sims[row, idx], axis=1, kind="stable")
            idx = idx[row, order]
        return pd.Series(
            [r.astype(np.int32) if ok else None for r, ok in zip(idx, valid)]
        )

    return _cells


def make_winnow_udf(k, window, base, mod):
    """(normalized text) -> array<long> of distinct winnowing fingerprints.

    Rolling polynomial k-gram hash folded exactly like the SQL
    ``(acc * base + codepoint) % mod`` recurrence (acc < mod = 2^31-1, so
    ``acc * base + cp`` stays far inside int64), then a sliding-window
    minimum of ``window`` consecutive hashes, then distinct. Identical
    integers to the HOF formulation, but one vectorized pass per document
    instead of a per-reference re-expansion of interpreted transforms.
    """
    from numpy.lib.stride_tricks import sliding_window_view

    @pandas_udf("array<long>")
    def _fps(norm: pd.Series) -> pd.Series:
        out = []
        min_len = k + window - 1
        for s in norm:
            if s is None or len(s) < min_len:
                out.append([])
                continue
            c = np.fromiter(map(ord, s), dtype=np.int64, count=len(s))
            n = len(c) - k + 1
            h = np.zeros(n, dtype=np.int64)
            for j in range(k):
                h = (h * base + c[j : j + n]) % mod
            w = sliding_window_view(h, window).min(axis=1)
            out.append(np.unique(w))
        return pd.Series(out)

    # Plan-shape fence: stops InferFiltersFromGenerate / CollapseProject
    # from duplicating the kernel around the downstream explode.
    return _fps.asNondeterministic()

"""MinHash + SimHash signature kernel (Arrow-batched, numpy-vectorized).

This is the engine's ONLY Python compute (SURVEY.md section 1.4 invariant:
no per-row Python — the kernel runs inside ``mapInPandas`` over Arrow record
batches). The same numpy functions are imported by the pure-Python oracle
(oracle.py) so signatures are bit-identical on both sides — that is what the
north rule's "identical shingle/signature config" means operationally.

Graft analogue: the reference's per-record black-box extraction
(``music-metadata.parseFile``, /root/reference/src/metadata.ts:11-13) becomes
normalize -> k-shingle -> MinHash/SimHash per conversation.

Hashing scheme (all deterministic, seedable, no wall clock):
  token   -> uint64: polynomial hash of its UTF-8 bytes, length-salted,
             then splitmix64 (stable across processes, unlike Python's
             salted hash())
  shingle -> uint64: polynomial combine of k consecutive token hashes,
             then splitmix64
  MinHash: num_perm universal-ish permutations h_i(x) = a_i*x + b_i mod 2^64
           (multiply-add with natural uint64 wraparound), sig_i = min over
           the doc's shingle hashes.
  SimHash: 64-bit, token unigrams weighted by count; bit votes summed
           vectorized, sign -> bit.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd

from .config import DedupConfig

_U64 = np.uint64

#: bump on any change to the hashing scheme itself (shingle hash, permutation
#: family, SimHash votes) OR to add_signatures' output schema — cache keys /
#: snapshot fingerprints derived from the config alone (the driver oracle's
#: signature export, the pipeline's stage fingerprints) also key on this, so
#: a kernel or schema edit can never silently reuse signatures computed by an
#: older kernel. v2: cid (dictionary-encoded long id) added to the schema.
KERNEL_VERSION = 2


def minhash_params(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """(a, b) arrays of shape (num_perm,), odd multipliers, seeded."""
    rng = np.random.default_rng(cfg.minhash_seed)
    a = rng.integers(1, 2**63, size=cfg.num_perm, dtype=np.uint64) * _U64(2) + _U64(1)
    b = rng.integers(0, 2**63, size=cfg.num_perm, dtype=np.uint64)
    return a, b


_POLY_P = _U64(0x100000001B3)  # FNV-ish odd base (invertible mod 2^64)
_POLY_Q = _U64(0x9E3779B97F4A7C15)  # golden-ratio odd base for shingle combine
_POLY_P_INV = _U64(pow(0x100000001B3, -1, 1 << 64))
_POLY_Q_INV = _U64(pow(0x9E3779B97F4A7C15, -1, 1 << 64))

_PowCache: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _powers(base_key: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(base^j, base^-j) for j < n — grown on demand, shared across calls
    (the per-call cumprod was the kernel hot spot)."""
    base, inv = (
        (_POLY_P, _POLY_P_INV) if base_key == 0 else (_POLY_Q, _POLY_Q_INV)
    )
    pw, ipw = _PowCache.get(base_key, (None, None))
    if pw is None or pw.size < n:
        size = max(n, 4096, 0 if pw is None else 2 * pw.size)
        with np.errstate(over="ignore"):
            npw = np.empty(size, dtype=np.uint64)
            npw[0] = _U64(1)
            np.cumprod(np.full(size - 1, base, dtype=np.uint64), out=npw[1:])
            nipw = np.empty(size, dtype=np.uint64)
            nipw[0] = _U64(1)
            np.cumprod(np.full(size - 1, inv, dtype=np.uint64), out=nipw[1:])
        _PowCache[base_key] = (npw, nipw)
        pw, ipw = npw, nipw
    return pw, ipw


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — full-avalanche bit diffusion on top
    of the linear polynomial hashes (SimHash bit votes and MinHash
    permutations need well-mixed bits)."""
    with np.errstate(over="ignore"):
        x = x + _U64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


def _token_hashes(norm_text: str) -> np.ndarray:
    """Vectorized per-token hashes of a normalized ('a b c') document.

    One prefix-sum polynomial pass over the UTF-8 bytes; token hash =
    splitmix64 of (poly hash of token bytes, length-salted). No per-string
    Python — this replaced a blake2b-per-token loop that dominated the
    kernel at 60k docs.
    """
    data = norm_text.encode("utf-8")
    n = len(data)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    x = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    pw, ipw = _powers(0, n)
    with np.errstate(over="ignore"):
        s = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(x * pw[:n], out=s[1:])
        # token boundaries: spaces are single separators in normalized text
        spaces = np.flatnonzero(x == _U64(32))
        starts = np.concatenate(([0], spaces + 1))
        ends = np.concatenate((spaces, [n]))
        h = (s[ends] - s[starts]) * ipw[starts]
        h = h * _POLY_Q + (ends - starts).astype(np.uint64)  # length salt
        return _splitmix64(h)


def shingle_hashes(norm_text: str, k: int) -> np.ndarray:
    """Hashes of the k-token shingle *set* of a normalized document —
    rolling combine of k consecutive token hashes (vectorized).

    Docs with fewer than k tokens yield one shingle (all tokens combined);
    empty docs yield none.
    """
    return shingle_hashes_from_tokens(_token_hashes(norm_text), k)


def shingle_hashes_from_tokens(tok: np.ndarray, k: int) -> np.ndarray:
    """shingle_hashes on precomputed token hashes — the signature kernel
    computes _token_hashes once per doc and feeds both this and
    simhash64_from_tokens (the token pass was being paid twice)."""
    m = tok.size
    if m == 0:
        return np.empty(0, dtype=np.uint64)
    kk = min(k, m)
    # shared power table (bit-identical to the per-call cumprods it
    # replaced — same cumprod of the same constants; the two per-call
    # cumprods plus a bigint pow were a measurable slice of the kernel)
    pw, ipw = _powers(1, m)
    with np.errstate(over="ignore"):
        s = np.zeros(m + 1, dtype=np.uint64)
        np.cumsum(tok * pw[:m], out=s[1:])
        h = (s[kk:] - s[: m - kk + 1]) * ipw[: m - kk + 1]
        return np.unique(_splitmix64(h))


_EMPTY_SIG_FILL = _U64(0xFFFFFFFFFFFFFFFF)


def minhash_signature(sh: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """sig_i = min_j (a_i * sh_j + b_i) mod 2^64; empty doc -> all-ones fill
    (never collides with a real signature under distinct band values).

    Stored at the full 64 bits: keeping only the low 32 bits of each min
    halves the signature bytes through the verify hydration shuffle, but an
    interleaved pinned A/B at 120k convs measured the array<int> pairs
    phase ~8% slower (63.9/61.2 s vs 58.9/57.6 s at 4 pinned cores)."""
    if sh.size == 0:
        return np.full(a.shape[0], _EMPTY_SIG_FILL, dtype=np.uint64)
    with np.errstate(over="ignore"):
        vals = a[:, None] * sh[None, :] + b[:, None]
    return vals.min(axis=1)


def simhash64(norm_text: str) -> np.uint64:
    """Weighted 64-bit SimHash over token unigrams (vectorized)."""
    return simhash64_from_tokens(_token_hashes(norm_text))


def simhash64_from_tokens(th: np.ndarray) -> np.uint64:
    """simhash64 on precomputed token hashes (see shingle_hashes_from_tokens)."""
    if th.size == 0:
        return _U64(0)
    # bit j of every token hash via one C-side byte unpack (LSB-first)
    # instead of a (tokens x 64) shift/compare matrix. Vote sums are
    # identical to the unique+counts formulation it replaced:
    # sum_unique (2*bit-1)*count == 2*popcount_j(all tokens) - n_tokens.
    bits = np.unpackbits(
        th.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8),
        axis=1,
        bitorder="little",
    )
    votes = 2 * bits.sum(axis=0, dtype=np.int64) - np.int64(th.size)
    packed = np.packbits((votes > 0).astype(np.uint8), bitorder="little")
    return np.frombuffer(packed.tobytes(), dtype="<u8")[0]


def sampled_gram_hashes(norm_text: str, k: int, mod: int) -> np.ndarray:
    """Content-defined sampled k-char-gram hashes (substring detector blocking).

    Rolling polynomial hash over the UTF-8 bytes of the normalized text; a
    gram is *sampled* iff ``hash % mod == 0``. Selection is content-defined
    (position-independent), so if doc A is a contiguous substring of doc B,
    every sampled gram of A is also a sampled gram of B — the containment
    candidate guarantee. Returns the unique sampled hashes (uint64).
    """
    data = norm_text.encode("utf-8")
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    x = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    # shared power table — bit-identical to the per-call cumprods + bigint
    # pow it replaced (same cumprod of the same constants)
    pw, ipw = _powers(0, n)
    with np.errstate(over="ignore"):
        s = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(x * pw[:n], out=s[1:])
        h = _splitmix64((s[k:] - s[: n - k + 1]) * ipw[: n - k + 1])
    sel = h[h % _U64(mod) == _U64(0)]
    return np.unique(sel)


def raw_gram_hashes(norm_text: str, k: int) -> np.ndarray:
    """ALL raw k-byte-gram polynomial hashes of one doc, position-normalized,
    in text order (uint64; duplicates kept, no splitmix finalizer, no sort —
    the substring tiny-path needs equality matching only, so collision
    resistance of the 64-bit polynomial is enough and the avalanche +
    unique-sort passes are skipped). Pattern side and probe side of
    probe_gram_matches both live in this value space."""
    data = norm_text.encode("utf-8")
    n = len(data)
    if n < k:
        return np.empty(0, dtype=np.uint64)
    x = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    pw, ipw = _powers(0, n)
    with np.errstate(over="ignore"):
        s = np.zeros(n + 1, dtype=np.uint64)
        np.cumsum(x * pw[:n], out=s[1:])
        return (s[k:] - s[: n - k + 1]) * ipw[: n - k + 1]


_PROBE_BITMAP_BITS = 22  # 2^22-slot presence filter on the hash low bits
# (stored as a bool ndarray: 4 MiB per build, rebuilt once per probe call)
_PROBE_CHUNK = 1 << 21  # bytes of concatenated text per rolling-hash pass


def build_pattern_bitmap(pat_arr: np.ndarray) -> np.ndarray:
    """Low-bits presence bitmap over a sorted int64 pattern array — the
    cheap prefilter probe_gram_matches consults before the exact
    searchsorted check (tiny-path patterns are capped at 10^4, so ~0.2% of
    corpus gram positions survive the filter)."""
    bm = np.zeros(1 << _PROBE_BITMAP_BITS, dtype=bool)
    mask = _U64((1 << _PROBE_BITMAP_BITS) - 1)
    bm[(pat_arr.view(np.uint64) & mask).astype(np.int64)] = True
    return bm


def probe_gram_matches(
    texts: list, k: int, pat_arr: np.ndarray, bitmap: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(row indices, matched hashes int64) for every raw k-gram of `texts`
    whose hash is in the sorted int64 `pat_arr`.

    One concatenated rolling-hash pass per ~2 MiB chunk of docs (amortizes
    the per-doc numpy call overhead; the power table is shared via _powers,
    bounded by the chunk size) + the low-bits bitmap prefilter, then the
    exact searchsorted membership check on the few survivors. Windows that
    cross a doc boundary inside the chunk are discarded AFTER candidate
    selection (they're ~(k-1)/chunk of positions; cheaper to drop the rare
    bitmap survivors than to mask every window). (row, pattern) duplicates
    are deduped here so the downstream join sees one row per match."""
    P = pat_arr.size
    mask = _U64((1 << _PROBE_BITMAP_BITS) - 1)
    out_idx: list[np.ndarray] = []
    out_gh: list[np.ndarray] = []
    enc = [t.encode("utf-8") for t in texts]
    i = 0
    while i < len(enc):
        j, total = i, 0
        while j < len(enc) and (total == 0 or total + len(enc[j]) <= _PROBE_CHUNK):
            total += len(enc[j])
            j += 1
        chunk = enc[i:j]
        lens = np.array([len(e) for e in chunk], dtype=np.int64)
        buf = b"".join(chunk)
        n = len(buf)
        base = i
        i = j
        if n < k:
            continue
        x = np.frombuffer(buf, dtype=np.uint8).astype(np.uint64)
        pw, ipw = _powers(0, n)
        with np.errstate(over="ignore"):
            s = np.zeros(n + 1, dtype=np.uint64)
            np.cumsum(x * pw[:n], out=s[1:])
            h = (s[k:] - s[: n - k + 1]) * ipw[: n - k + 1]
            cand = np.flatnonzero(bitmap[(h & mask).astype(np.int64)])
        if cand.size == 0:
            continue
        g = h[cand].view(np.int64)
        pos = np.searchsorted(pat_arr, g)
        np.minimum(pos, P - 1, out=pos)
        exact = pat_arr[pos] == g
        cand, g, pos = cand[exact], g[exact], pos[exact]
        if cand.size == 0:
            continue
        starts = np.concatenate(([0], np.cumsum(lens)))
        d = np.searchsorted(starts, cand, side="right") - 1
        inside = cand + k <= starts[d + 1]  # window fits within its doc
        d, g, pos = d[inside], g[inside], pos[inside]
        if d.size == 0:
            continue
        # dedup (doc, pattern) pairs: doc index < 2^40, pattern index < 2^24
        key = np.unique((d.astype(np.uint64) << _U64(24)) | pos.astype(np.uint64))
        out_idx.append((key >> _U64(24)).astype(np.int64) + base)
        out_gh.append(pat_arr[(key & _U64((1 << 24) - 1)).astype(np.int64)])
    if not out_idx:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(out_idx), np.concatenate(out_gh)


def _probe_native(
    texts: list, k: int, pat_arr: np.ndarray, bitmap: np.ndarray, lib
) -> tuple[np.ndarray, np.ndarray]:
    """probe_gram_matches via the C kernel (td_probe_batch) — identical
    output contract and values: the C loop computes the same POLY_P rolling
    window hash per doc (the numpy chunked pass discards cross-doc windows,
    the per-doc loop never creates them), consults the same low-bits
    bitmap, and binary-searches the same signed-ascending pattern array;
    raw (doc, pattern) hits are deduped here with the numpy path's exact
    key encoding. ~10x less compute: one streaming pass, no 8x-expanded
    uint64 temporaries through DRAM."""
    ndocs = len(texts)
    if ndocs == 0 or pat_arr.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    enc = [t.encode("utf-8") for t in texts]
    offs = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(np.fromiter((len(e) for e in enc), dtype=np.int64, count=ndocs),
              out=offs[1:])
    data = np.frombuffer(b"".join(enc), dtype=np.uint8)
    if data.size == 0:
        data = np.zeros(1, dtype=np.uint8)  # non-null pointer for ctypes
    pat = np.ascontiguousarray(pat_arr, dtype=np.int64)
    bm = np.ascontiguousarray(bitmap, dtype=np.uint8)
    cap = 4096
    while True:
        out_d = np.empty(cap, dtype=np.int64)
        out_p = np.empty(cap, dtype=np.int64)
        n = lib.td_probe_batch(
            data.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
            offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            ndocs, int(k),
            pat.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            int(pat.size),
            bm.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
            int(bm.size - 1),
            out_d.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            out_p.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            cap,
        )
        if n <= cap:
            break
        cap = int(n)
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    out_d, out_p = out_d[:n], out_p[:n]
    # dedup (doc, pattern) with the numpy path's key encoding — identical
    # (idx, gh) arrays, identical (doc, pattern-index) sort order
    key = np.unique(
        (out_d.astype(np.uint64) << _U64(24)) | out_p.astype(np.uint64)
    )
    idx = (key >> _U64(24)).astype(np.int64)
    gh = pat[(key & _U64((1 << 24) - 1)).astype(np.int64)]
    return idx, gh


def probe_gram_matches_best(
    texts: list, k: int, pat_arr: np.ndarray, bitmap: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Native-kernel probe when available (load-time parity-probed, same
    TD_NATIVE_KERNEL gate as the signature kernel), numpy otherwise."""
    lib = _native_lib()
    if lib is not None:
        return _probe_native(texts, k, pat_arr, bitmap, lib)
    return probe_gram_matches(texts, k, pat_arr, bitmap)


def est_jaccard(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Estimated Jaccard = fraction of agreeing signature positions.
    Deterministic given identical signatures — the Spark verify stage computes
    exactly this with zip_with/aggregate."""
    return float((sig_a == sig_b).mean())


def band_tuples(sig: np.ndarray, bands: int, rows: int) -> list[tuple]:
    """The (band_id, row-values...) keys used for LSH collision — the oracle
    compares raw tuples where Spark hash-joins on xxhash64(slice); Spark's
    candidate set is therefore a superset (hash collisions only add pairs)."""
    return [(b, *sig[b * rows : (b + 1) * rows].tolist()) for b in range(bands)]


def compute_signature_row(norm_text: str, cfg: DedupConfig, a: np.ndarray, b: np.ndarray):
    """(minhash int list, simhash int64, n_shingles int) for one doc.

    Round-8 shape: ONE byte-level polynomial prefix-sum pass feeds both the
    token hashes and the sampled substring grams (they were computed as two
    independent passes over the same bytes — the per-doc encode + cumsum
    paid twice), and ONE ``np.errstate`` context wraps the whole row (the
    kernel's six per-call contexts were ~15%% of kernel time in cProfile —
    seterr/geterr are surprisingly expensive per small-array call). All
    values are bit-identical to the previous per-function path: same
    polynomial, same constants, same order of operations
    (tests/test_signatures.py pins Spark==Python parity either way).
    """
    data = norm_text.encode("utf-8")
    n = len(data)
    with np.errstate(over="ignore"):
        if n == 0:
            th = np.empty(0, dtype=np.uint64)
            grams = np.empty(0, dtype=np.uint64)
        else:
            x = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
            pw, ipw = _powers(0, n)
            s = np.zeros(n + 1, dtype=np.uint64)
            np.cumsum(x * pw[:n], out=s[1:])
            # tokens: spaces are single separators in normalized text
            spaces = np.flatnonzero(x == _U64(32))
            starts = np.concatenate(([0], spaces + 1))
            ends = np.concatenate((spaces, [n]))
            th = (s[ends] - s[starts]) * ipw[starts]
            th = _splitmix64(th * _POLY_Q + (ends - starts).astype(np.uint64))
            # sampled substring grams from the SAME prefix sums
            k2 = cfg.substring_gram_k
            if n >= k2:
                h = _splitmix64((s[k2:] - s[: n - k2 + 1]) * ipw[: n - k2 + 1])
                grams = np.unique(h[h % _U64(cfg.substring_mod) == _U64(0)])
            else:
                grams = np.empty(0, dtype=np.uint64)
        sh = shingle_hashes_from_tokens(th, cfg.shingle_k)
        sig = minhash_signature(sh, a, b)
        sim = int(simhash64_from_tokens(th))
    if sim >= 1 << 63:  # two's-complement into Spark LongType
        sim -= 1 << 64
    return sig.view(np.int64).tolist(), sim, int(sh.size), grams.view(np.int64).tolist()


# --------------------------------------------------------------------------
# Native (C) kernel: the identical per-doc computation compiled with gcc -O3.
#
# The per-row numpy path above pays ~30 small-array numpy calls per doc
# (~140 us/doc on the bench corpus, call overhead + intermediate matrices);
# the C kernel runs the same polynomial/splitmix arithmetic (uint64
# wraparound, same constants, same op order — see _sigkernel.c) over a whole
# Arrow batch in one call. Compiled on demand, content-hash-cached in
# $TMPDIR; ANY failure (no gcc, compile error, load error, parity-probe
# mismatch) permanently falls back to the numpy path for the process.
# TD_NATIVE_KERNEL=0 disables; =require raises instead of falling back
# (used by tests to prove the native path is actually exercised).
# --------------------------------------------------------------------------

_NATIVE_LIB = None  # None = not tried; False = unavailable; else CDLL


def _native_build() -> "ctypes.CDLL":
    src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_sigkernel.c")
    try:
        with open(src, "rb") as f:
            code = f.read()
    except OSError:
        # imported from a --py-files zip: read the member via the package
        # loader instead of the (non-existent) filesystem path
        import importlib.resources as _ir

        code = (_ir.files("transcript_dedup") / "_sigkernel.c").read_bytes()
    tag = hashlib.sha256(code).hexdigest()[:16]
    so = os.path.join(
        tempfile.gettempdir(), f"td_sigkernel_{tag}_{os.uname().machine}.so"
    )
    if not os.path.exists(so):
        tmp = f"{so}.{os.getpid()}.tmp"
        with open(tmp + ".c", "wb") as f:
            f.write(code)
        subprocess.run(
            ["gcc", "-O3", "-march=native", "-shared", "-fPIC",
             "-o", tmp, tmp + ".c"],
            check=True, capture_output=True, timeout=120,
        )
        os.unlink(tmp + ".c")
        os.replace(tmp, so)  # atomic: concurrent workers race benignly
    lib = ctypes.CDLL(so)
    P = ctypes.POINTER
    lib.td_sig_batch.restype = ctypes.c_int64
    lib.td_sig_batch.argtypes = [
        P(ctypes.c_uint8), P(ctypes.c_int64), ctypes.c_int64,
        P(ctypes.c_uint64), P(ctypes.c_uint64), ctypes.c_int64,
        ctypes.c_int64, ctypes.c_int64, ctypes.c_uint64,
        P(ctypes.c_uint64), P(ctypes.c_int64), P(ctypes.c_int32),
        P(ctypes.c_int64), ctypes.c_int64, P(ctypes.c_int32),
    ]
    lib.td_probe_batch.restype = ctypes.c_int64
    lib.td_probe_batch.argtypes = [
        P(ctypes.c_uint8), P(ctypes.c_int64), ctypes.c_int64,
        ctypes.c_int64,
        P(ctypes.c_int64), ctypes.c_int64,
        P(ctypes.c_uint8), ctypes.c_uint64,
        P(ctypes.c_int64), P(ctypes.c_int64), ctypes.c_int64,
    ]
    return lib


#: parity-probe docs — cover empty, single/short token, double space,
#: multi-byte UTF-8, a >=gram_k doc, and an embedded NUL byte
_NATIVE_PROBE_DOCS = [
    "",
    " ",
    "a",
    "hello world  twice spaced",
    "héllo wörld ☃ tokens beyond the shingle width here",
    "the quick brown fox jumps over the lazy dog repeatedly and predictably "
    "until the sampled gram window fills several times over",
    "nul\x00byte inside",
]


def _native_lib():
    """CDLL handle or None — compile+load+parity-probe once per process."""
    global _NATIVE_LIB
    if _NATIVE_LIB is not None:
        return _NATIVE_LIB or None
    mode = os.environ.get("TD_NATIVE_KERNEL", "auto")
    if mode == "0":
        _NATIVE_LIB = False
        return None
    try:
        lib = _NATIVE_LIB = _native_build()
        # value-level parity probe vs the numpy reference on fixed edge-case
        # docs — a miscompiled kernel disables itself rather than ship wrong
        # signatures from an unattended run
        cfg = DedupConfig()
        a, b = minhash_params(cfg)
        sigs, sims, nshs, grams = _native_batch(_NATIVE_PROBE_DOCS, cfg, a, b, lib)
        for i, t in enumerate(_NATIVE_PROBE_DOCS):
            rs, rm, rn, rg = compute_signature_row(t, cfg, a, b)
            if (sigs[i], sims[i], nshs[i], grams[i]) != (rs, rm, rn, rg):
                raise AssertionError(f"native parity probe failed on doc {i!r}")
        # pattern-probe parity: both paths over edge-case docs (sub-gram
        # short doc, multi-byte UTF-8, shared pattern across docs) with
        # patterns drawn from the docs' own raw grams plus a non-matching
        # one — a miscompiled probe disables the whole native path
        k = cfg.substring_gram_k
        pdocs = [
            _NATIVE_PROBE_DOCS[5],
            _NATIVE_PROBE_DOCS[5][3:] + " héllo wörld ☃ suffix",
            "short",
            _NATIVE_PROBE_DOCS[4] * 3,
        ]
        pats = np.unique(np.concatenate([
            raw_gram_hashes(pdocs[0], k).view(np.int64)[:2],
            raw_gram_hashes(pdocs[3], k).view(np.int64)[-2:],
            np.array([12345], dtype=np.int64),
        ]))
        pbm = build_pattern_bitmap(pats)
        ni, ng = _probe_native(pdocs, k, pats, pbm, lib)
        ri, rg2 = probe_gram_matches(pdocs, k, pats, pbm)
        if ni.tolist() != ri.tolist() or ng.tolist() != rg2.tolist():
            raise AssertionError("native probe parity failed")
    except Exception:
        _NATIVE_LIB = False
        if mode == "require":
            raise
        return None
    return _NATIVE_LIB


def _native_batch(texts, cfg: DedupConfig, a: np.ndarray, b: np.ndarray, lib,
                  as_arrays: bool = False):
    """(sig lists, simhash list, n_shingles list, gram lists) via the C
    kernel — same return contract as mapping compute_signature_row.

    as_arrays=True returns the minhash rows and gram rows as int ndarray
    views instead of Python lists (identical values; pyarrow converts both
    to the same list<int> arrays, the ndarray form ~8x cheaper — the
    .tolist() boxing measured ~10 us/doc, a third of the native path)."""
    ndocs = len(texts)
    if ndocs == 0:
        return [], [], [], []
    enc = [t.encode("utf-8") for t in texts]
    offs = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(np.fromiter((len(e) for e in enc), dtype=np.int64, count=ndocs),
              out=offs[1:])
    data = np.frombuffer(b"".join(enc), dtype=np.uint8)
    if data.size == 0:
        data = np.zeros(1, dtype=np.uint8)  # non-null pointer for ctypes
    sig = np.empty((ndocs, cfg.num_perm), dtype=np.uint64)
    sim = np.empty(ndocs, dtype=np.int64)
    nsh = np.empty(ndocs, dtype=np.int32)
    gcnt = np.empty(ndocs, dtype=np.int32)
    cap = int(offs[-1]) // max(int(cfg.substring_mod) // 4, 1) + 4096
    au = np.ascontiguousarray(a, dtype=np.uint64)
    bu = np.ascontiguousarray(b, dtype=np.uint64)
    for _ in range(2):
        grams = np.empty(cap, dtype=np.int64)
        total = lib.td_sig_batch(
            data.ctypes.data_as(ctypes.POINTER(ctypes.c_uint8)),
            offs.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            ndocs,
            au.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
            bu.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
            int(cfg.num_perm), int(cfg.shingle_k),
            int(cfg.substring_gram_k), int(cfg.substring_mod),
            sig.ctypes.data_as(ctypes.POINTER(ctypes.c_uint64)),
            sim.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            nsh.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
            grams.ctypes.data_as(ctypes.POINTER(ctypes.c_int64)),
            cap,
            gcnt.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        )
        if total < 0:
            raise MemoryError("td_sig_batch allocation failure")
        if total <= cap:
            break
        cap = int(total)
    sig_v = sig.view(np.int64)
    bounds = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(gcnt, out=bounds[1:])
    if as_arrays:
        out_sig = list(sig_v)
        out_grams = [grams[bounds[d]:bounds[d + 1]] for d in range(ndocs)]
    else:
        out_sig = sig_v.tolist()
        out_grams = [grams[bounds[d]:bounds[d + 1]].tolist() for d in range(ndocs)]
    return out_sig, sim.tolist(), nsh.astype(int).tolist(), out_grams


# --------------------------------------------------------------------------
# Spark integration
# --------------------------------------------------------------------------

def add_signatures(conv_df, cfg: DedupConfig):
    """conversations(+norm_text) -> + minhash array<bigint>, simhash bigint,
    n_shingles int.
    Arrow-batched mapInPandas; all other columns pass through.
    """
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        conv_df.schema.fields
        + [
            StructField("minhash", ArrayType(LongType(), False), False),
            StructField("simhash", LongType(), False),
            StructField("n_shingles", IntegerType(), False),
            StructField("sub_grams", ArrayType(LongType(), False), False),
        ]
    )
    k = cfg  # closure capture of the frozen dataclass (tiny, pickle-safe)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = minhash_params(k)
        lib = _native_lib()
        for pdf in batches:
            if lib is not None:
                # native batch kernel (~6x the per-row numpy path, values
                # bit-identical — see _sigkernel.c and the parity probe)
                texts = pdf["norm_text"].astype(str).tolist()
                sigs, sims, counts, grams = _native_batch(
                    texts, k, a, b, lib, as_arrays=True
                )
            else:
                # per-row numpy fallback (the native kernel's reference)
                sigs, sims, counts, grams = [], [], [], []
                for t in pdf["norm_text"].astype(str):
                    sg, sm, ns, gr = compute_signature_row(t, k, a, b)
                    sigs.append(sg)
                    sims.append(sm)
                    counts.append(ns)
                    grams.append(gr)
            pdf = pdf.copy()
            pdf["minhash"] = sigs
            pdf["simhash"] = pd.array(sims, dtype="int64")
            pdf["n_shingles"] = pd.array(counts, dtype="int32")
            pdf["sub_grams"] = grams
            yield pdf

    # cid: dictionary-encoded conversation id. The ~9-24-byte conv_id string
    # rides through every hot pairs-phase exchange (band-key explode, gram
    # explode, map-side pair structs, the srcs groupBy, both hydration join
    # keys); a deterministic 8-byte xxhash64 cuts those rows by 1/3-1/2 and
    # makes every join/group key a primitive long (cheaper hash + compare).
    # Deterministic => recompute-safe under cache eviction and resume, unlike
    # monotonically_increasing_id. Injectivity is asserted per pairs job
    # (assert_cid_unique below; remediation = bump cfg.cid_seed);
    # detectors work on cid only, and verify_candidates restores the string
    # ids (and string-ordered pair orientation) at the pairs output, so the
    # external surface is bit-identical to the string implementation.
    from pyspark.sql import functions as F

    # seed 0 (default) is the bare xxhash64 — chosen so pmod(cid, n) equals
    # the pre-cid engine's salt pmod(xxhash64(conv_id), n) bit-for-bit (the
    # LSH hot-key salt subgrouping, lsh.py), keeping the emitted pair set
    # identical to the string implementation; a nonzero seed prefixes the
    # hash input (the collision escape hatch, config.cid_seed)
    cid_col = (
        F.xxhash64("conv_id")
        if int(cfg.cid_seed) == 0
        else F.xxhash64(F.lit(int(cfg.cid_seed)), "conv_id")
    )
    return conv_df.mapInPandas(kernel, schema=out_schema).withColumn("cid", cid_col)


def assert_cid_unique(conv) -> int:
    """One cheap count-vs-count_distinct aggregation proving cid is
    injective over this corpus (no xxhash64 birthday collision — expected
    collisions ~ n^2/2^65, see config.cid_seed). Doubles as the cache
    materialization barrier for a persisted conv frame: any action populates
    the cache, and this one also validates the id contract every detector
    relies on. Returns the corpus row count."""
    from pyspark.sql import functions as F

    r = conv.agg(
        F.count("*").alias("n"), F.count_distinct("cid").alias("d")
    ).collect()[0]
    if r["n"] != r["d"]:
        raise AssertionError(
            f"cid (xxhash64) collision: {r['n']} conversations -> {r['d']} "
            "distinct cids. Re-run with a different DedupConfig.cid_seed; "
            "for corpora far beyond 1e9 docs, shard the dedup run instead."
        )
    return int(r["n"])

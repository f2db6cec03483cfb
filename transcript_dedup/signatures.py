"""MinHash + SimHash signature kernel (Arrow-batched, numpy-vectorized).

This is the engine's ONLY Python compute (SURVEY.md section 1.4 invariant:
no per-row Python — the kernel runs inside ``mapInPandas`` over Arrow record
batches). The same numpy functions are imported by the pure-Python oracle
(oracle.py) so signatures are bit-identical on both sides — that is what the
north rule's "identical shingle/signature config" means operationally.

Graft analogue: the reference's per-record black-box extraction
(``music-metadata.parseFile``, /root/reference/src/metadata.ts:11-13) becomes
normalize -> k-shingle -> MinHash/SimHash per conversation.

Hashing scheme (all deterministic, seedable, no wall clock). Every hash is
built from one polynomial pass, ``_prefix`` (prefix sums of x[j] * base^j
mod 2^64 plus inverse powers), and ``_windows`` (the position-normalized
hash of every k-window of that pass):
  token   -> uint64: polynomial hash of its UTF-8 bytes (base P), length-
             salted, then splitmix64 (stable across processes, unlike
             Python's salted hash())
  shingle -> uint64: k-window of the token hashes (base Q), then splitmix64
  gram    -> uint64: k-byte window of the UTF-8 bytes (base P); the raw
             value is the tiny-path probe's, splitmix64(raw) % mod == 0
             selects the substring detector's sampled grams
  MinHash: num_perm universal-ish permutations h_i(x) = a_i*x + b_i mod 2^64
           (multiply-add with natural uint64 wraparound), sig_i = min over
           the doc's shingle hashes.
  SimHash: 64-bit, token unigrams weighted by count; bit votes summed
           vectorized, sign -> bit.

The C kernel (_sigkernel.c) computes the same values over a whole Arrow
batch per call; ``_pack`` lays the batch out for both of its entry points
(signatures and the pattern probe), and the numpy per-doc functions here
are its reference.
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

_PowCache: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _powers(base: np.uint64, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(base^j, base^-j) for j < n — grown on demand, shared across calls
    (the per-call cumprod was the kernel hot spot)."""
    pw, ipw = _PowCache.get(int(base), (None, None))
    if pw is None or pw.size < n:
        size = max(n, 4096, 0 if pw is None else 2 * pw.size)
        inv = _U64(pow(int(base), -1, 1 << 64))
        with np.errstate(over="ignore"):
            npw = np.empty(size, dtype=np.uint64)
            npw[0] = _U64(1)
            np.cumprod(np.full(size - 1, base, dtype=np.uint64), out=npw[1:])
            nipw = np.empty(size, dtype=np.uint64)
            nipw[0] = _U64(1)
            np.cumprod(np.full(size - 1, inv, dtype=np.uint64), out=nipw[1:])
        _PowCache[int(base)] = (npw, nipw)
        pw, ipw = npw, nipw
    return pw, ipw


def _prefix(x: np.ndarray, base: np.uint64) -> tuple[np.ndarray, np.ndarray]:
    """The one polynomial pass every hash here is built from: prefix sums
    s[i] = sum_{j<i} x[j] * base^j (mod 2^64, s[0] = 0) of a uint64 array,
    and the inverse powers ipw[j] = base^-j, so (s[e] - s[b]) * ipw[b] is
    the hash of x[b:e] as if it started at position 0. _sigkernel.c
    computes the same values per window with a rolling update."""
    n = x.size
    pw, ipw = _powers(base, n)
    s = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(x * pw[:n], out=s[1:])
    return s, ipw


def _windows(s: np.ndarray, ipw: np.ndarray, k: int) -> np.ndarray:
    """Position-normalized hashes of every k-window of _prefix's input, in
    order; empty when the input is shorter than k."""
    n = s.size - 1
    if n < k:
        return np.empty(0, dtype=np.uint64)
    return (s[k:] - s[: n - k + 1]) * ipw[: n - k + 1]


def _utf8(text: str) -> np.ndarray:
    """The UTF-8 bytes of a text as a uint64 array (_prefix's input)."""
    return np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — full-avalanche bit diffusion on top
    of the linear polynomial hashes (SimHash bit votes and MinHash
    permutations need well-mixed bits)."""
    with np.errstate(over="ignore"):
        x = x + _U64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


def _tokens(x: np.ndarray, s: np.ndarray, ipw: np.ndarray) -> np.ndarray:
    """Token hashes of normalized text from its byte prefix sums: splitmix64
    of (poly hash of the token's bytes, length-salted). Spaces are single
    separators in normalized text; empty text has no tokens."""
    n = x.size
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    spaces = np.flatnonzero(x == _U64(32))
    starts = np.concatenate(([0], spaces + 1))
    ends = np.concatenate((spaces, [n]))
    h = (s[ends] - s[starts]) * ipw[starts]
    return _splitmix64(h * _POLY_Q + (ends - starts).astype(np.uint64))


def _token_hashes(norm_text: str) -> np.ndarray:
    """Per-token hashes of a normalized ('a b c') document."""
    x = _utf8(norm_text)
    return _tokens(x, *_prefix(x, _POLY_P))


def _sample(raw: np.ndarray, mod: int) -> np.ndarray:
    """The unique sampled grams among raw gram hashes: splitmix64, kept iff
    the mixed hash is 0 mod `mod`."""
    h = _splitmix64(raw)
    return np.unique(h[h % _U64(mod) == _U64(0)])


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
    return np.unique(_splitmix64(_windows(*_prefix(tok, _POLY_Q), min(k, m))))


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
    gram is *sampled* iff ``splitmix64(hash) % mod == 0``. Selection is
    content-defined (position-independent), so if doc A is a contiguous
    substring of doc B, every sampled gram of A is also a sampled gram of
    B — the containment candidate guarantee. Returns the unique sampled
    hashes (uint64).
    """
    return _sample(raw_gram_hashes(norm_text, k), mod)


def raw_gram_hashes(norm_text: str, k: int) -> np.ndarray:
    """ALL raw k-byte-gram polynomial hashes of one doc, position-normalized,
    in text order (uint64; duplicates kept, no splitmix finalizer, no sort —
    the substring tiny-path needs equality matching only, so collision
    resistance of the 64-bit polynomial is enough and the avalanche +
    unique-sort passes are skipped). Pattern side and probe side of
    probe_gram_matches both live in this value space."""
    return _windows(*_prefix(_utf8(norm_text), _POLY_P), k)


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


def _pack(texts: list) -> tuple[np.ndarray, np.ndarray]:
    """The batch layout both C entry points read (and the numpy probe's):
    the UTF-8 bytes of all texts joined (uint8) and int64 offsets, doc d
    being bytes[offs[d]:offs[d + 1]]."""
    enc = [t.encode("utf-8") for t in texts]
    offs = np.zeros(len(enc) + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, enc), dtype=np.int64, count=len(enc)), out=offs[1:])
    data = np.frombuffer(b"".join(enc), dtype=np.uint8)
    if data.size == 0:
        data = np.zeros(1, dtype=np.uint8)  # non-null pointer for ctypes
    return data, offs


# A (doc, pattern) match packed into one uint64, so that one np.unique both
# dedups the matches and sorts them by doc, then pattern index: doc index in
# the high 40 bits, pattern index in the low 24. The 24 bits hold because
# DedupConfig.__post_init__ rejects 2 * substring_tiny_cap >= 2**24 (the
# tiny path's pattern array holds at most two anchors per needle).
_PAT_BITS = 24


def doc_pattern_key(doc: np.ndarray, pat: np.ndarray) -> np.ndarray:
    """uint64 keys of (doc index, pattern index) pairs."""
    return (doc.astype(np.uint64) << _U64(_PAT_BITS)) | pat.astype(np.uint64)


def split_doc_pattern_key(key: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(doc indices, pattern indices) of doc_pattern_key keys, as int64."""
    return (
        (key >> _U64(_PAT_BITS)).astype(np.int64),
        (key & _U64((1 << _PAT_BITS) - 1)).astype(np.int64),
    )


def _unique_matches(
    doc: np.ndarray, pat: np.ndarray, pat_arr: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(doc indices, matched hashes) of the distinct (doc, pattern index)
    hits, sorted by doc, then pattern index — the probe output contract."""
    d, p = split_doc_pattern_key(np.unique(doc_pattern_key(doc, pat)))
    return d, pat_arr[p]


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
    data, offs = _pack(texts)
    i = 0
    while i < len(texts):
        # docs i..j-1: as many as fit in _PROBE_CHUNK bytes, at least one
        j = int(np.searchsorted(offs, offs[i] + _PROBE_CHUNK, side="right")) - 1
        j = max(j, i + 1)
        starts = offs[i : j + 1] - offs[i]
        h = _windows(*_prefix(data[offs[i] : offs[j]].astype(np.uint64), _POLY_P), k)
        base, i = i, j
        cand = np.flatnonzero(bitmap[(h & mask).astype(np.int64)])
        if cand.size == 0:
            continue
        g = h[cand].view(np.int64)
        pos = np.searchsorted(pat_arr, g)
        np.minimum(pos, P - 1, out=pos)
        exact = pat_arr[pos] == g
        cand, pos = cand[exact], pos[exact]
        d = np.searchsorted(starts, cand, side="right") - 1
        inside = cand + k <= starts[d + 1]  # window fits within its doc
        idx, gh = _unique_matches(d[inside], pos[inside], pat_arr)
        out_idx.append(idx + base)
        out_gh.append(gh)
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
    raw (doc, pattern) hits are deduped by the same _unique_matches. ~10x
    less compute: one streaming pass, no 8x-expanded uint64 temporaries
    through DRAM."""
    ndocs = len(texts)
    if ndocs == 0 or pat_arr.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    data, offs = _pack(texts)
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
    return _unique_matches(out_d[:n], out_p[:n], pat)


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
    """(minhash int list, simhash int64, n_shingles int, sampled gram int
    list) for one doc — the numpy fallback and the native kernel's reference.

    One _prefix pass over the bytes feeds both the token hashes and the
    sampled substring grams, and one ``np.errstate`` context wraps the whole
    row (per-call contexts were ~15%% of kernel time in cProfile —
    seterr/geterr are surprisingly expensive per small-array call).
    """
    x = _utf8(norm_text)
    with np.errstate(over="ignore"):
        s, ipw = _prefix(x, _POLY_P)
        th = _tokens(x, s, ipw)
        grams = _sample(_windows(s, ipw, cfg.substring_gram_k), cfg.substring_mod)
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
            native = (sigs[i].tolist(), sims[i], nshs[i], grams[i].tolist())
            if native != compute_signature_row(t, cfg, a, b):
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


def _native_batch(texts, cfg: DedupConfig, a: np.ndarray, b: np.ndarray, lib):
    """(minhash rows, simhash list, n_shingles list, gram rows) via the C
    kernel: compute_signature_row's values for every doc, with the minhash
    and gram rows as int64 ndarray views, not lists (pyarrow converts both
    to the same list<int> arrays, the ndarray form ~8x cheaper — .tolist()
    boxing measured ~10 us/doc, a third of the native path)."""
    ndocs = len(texts)
    if ndocs == 0:
        return [], [], [], []
    data, offs = _pack(texts)
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
    bounds = np.zeros(ndocs + 1, dtype=np.int64)
    np.cumsum(gcnt, out=bounds[1:])
    out_grams = [grams[bounds[d]:bounds[d + 1]] for d in range(ndocs)]
    return list(sig.view(np.int64)), sim.tolist(), nsh.astype(int).tolist(), out_grams


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
                sigs, sims, counts, grams = _native_batch(texts, k, a, b, lib)
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

"""FSST symbol-table string compression (vectorized, lossless).

North-rule string codec, canonical variant: up to 255 symbols of 1-8
bytes built by iterative refinement (5 generations of encode-the-
sample, count symbols and adjacent-symbol concatenations, keep the
top candidates by gain = count x length — the construction of Boncz/
Neumann/Leis, "FSST: Fast Random Access String Compression", VLDB'20),
greedy LONGEST-match encoding, one escape code.

Code space: 0x00..0xFE = symbol index into the table; 0xFF = escape
(the next encoded byte is a literal), so arbitrary UTF-8 round-trips
even with an empty table.

Vectorization: per-position longest-match lengths come from seven
``searchsorted`` probes over an 8-byte big-endian window array (one
probe per symbol length 2..8 plus a 256-entry table for length 1);
the inherently serial greedy walk is TRANSPOSED — iterate over token
STEPS, vectorized across all rows of the batch — so total work is
O(tokens), with no per-row Python.

This is the only string format: every persisted table is a
:class:`SymbolTable`.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..operators.framing import gather_ranges

ESCAPE = 0xFF
MAX_SYMBOLS = 255  # codes 0x00..0xFE
GENERATIONS = 5


@dataclass
class SymbolTable:
    """Canonical FSST table: ``syms[i, :lens[i]]`` are code i's bytes."""

    syms: np.ndarray   # uint8 [n, 8], zero-padded
    lens: np.ndarray   # int64 [n], 1..8

    @property
    def size(self) -> int:
        return int(self.lens.size)

    def to_bytes(self) -> bytes:
        rec = np.zeros((self.size, 9), np.uint8)
        rec[:, 0] = self.lens
        rec[:, 1:] = self.syms
        return rec.tobytes()

    @classmethod
    def from_bytes(cls, b: bytes) -> "SymbolTable":
        rec = np.frombuffer(bytes(b), np.uint8).reshape(-1, 9)
        return cls(np.ascontiguousarray(rec[:, 1:]),
                   rec[:, 0].astype(np.int64))


def _windows8(flat: np.ndarray) -> np.ndarray:
    """w8[i] = bytes i..i+7 big-endian (zero-padded past the end), so
    the first-L-bytes key at i is ``w8[i] >> (8*(8-L))``.  One uint64
    cast of the padded input, then in-place shift/or over views — no
    per-byte-lane temporaries (these are 8n-byte arrays; allocator
    traffic here dominated the encode profile)."""
    n = flat.size
    ext = np.empty(n + 8, np.uint64)
    ext[:n] = flat
    ext[n:] = 0
    w8 = np.zeros(n, np.uint64)
    for k in range(8):
        np.left_shift(w8, np.uint64(8), out=w8)
        np.bitwise_or(w8, ext[k:k + n], out=w8)
    return w8


def _sym_keys(syms: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Big-endian integer key of each symbol's first len bytes."""
    keys = np.zeros(len(lens), np.uint64)
    for k in range(8):
        keys = (keys << np.uint64(8)) | syms[:, k].astype(np.uint64)
    return keys >> ((8 - lens.astype(np.uint64)) * np.uint64(8))


class _Matcher:
    """Per-position longest-match length + code for one table."""

    def __init__(self, table: SymbolTable):
        self.table = table
        self.lit1 = np.full(256, -1, np.int32)
        self.by_len: list[tuple[np.ndarray, np.ndarray]] = []
        keys = _sym_keys(table.syms, table.lens)
        for L in range(2, 9):
            sel = np.flatnonzero(table.lens == L)
            k = keys[sel]
            order = np.argsort(k, kind="stable")
            self.by_len.append((k[order], sel[order].astype(np.int32)))
        ones = np.flatnonzero(table.lens == 1)
        self.lit1[table.syms[ones, 0]] = ones

    def match(self, flat: np.ndarray, row_end_pos: np.ndarray):
        """Returns (mlen int64[n], code int32[n]); code -1 = escape."""
        n = flat.size
        w8 = _windows8(flat)
        code = self.lit1[flat].copy()
        mlen = np.ones(n, np.int64)
        rem = row_end_pos - np.arange(n)
        for L in range(2, 9):  # ascending: longest match overwrites
            keysL, codesL = self.by_len[L - 2]
            if keysL.size == 0:
                continue
            keyL = w8 >> np.uint64((8 - L) * 8)
            idx = np.searchsorted(keysL, keyL)
            idx_c = np.minimum(idx, keysL.size - 1)
            hit = (keysL[idx_c] == keyL) & (idx < keysL.size) & (rem >= L)
            code[hit] = codesL[idx_c[hit]]
            mlen[hit] = L
        return mlen, code


def _tokenize(flat: np.ndarray, lens: np.ndarray, matcher: _Matcher):
    """Greedy longest-match token starts over every row (step-
    transposed walk).  Returns (tok_pos, tok_len, tok_code) in
    position order; escaped literals carry len 1 / code -1."""
    lens = np.asarray(lens, np.int64)
    total = int(lens.sum())
    if total == 0:
        z = np.zeros(0, np.int64)
        return z, z.copy(), np.zeros(0, np.int32)
    starts = np.cumsum(lens) - lens
    ends = starts + lens
    row_of = np.repeat(np.arange(len(lens)), lens)
    row_end_pos = ends[row_of]
    mlen, code = matcher.match(flat, row_end_pos)
    step = np.where(code >= 0, mlen, 1)

    cur = starts.copy()
    live = np.flatnonzero(lens > 0)
    chunks = []
    while live.size:
        p = cur[live]
        chunks.append(p)
        cur[live] = p + step[p]
        live = live[cur[live] < ends[live]]
    tok_pos = np.sort(np.concatenate(chunks))
    return tok_pos, step[tok_pos], code[tok_pos]


def build_table(sample_bytes: np.ndarray, max_symbols: int = MAX_SYMBOLS,
                generations: int = GENERATIONS,
                sample_lens: np.ndarray | None = None,
                min_count: int = 2) -> SymbolTable:
    """Iterative-refinement construction: each generation tokenizes the
    sample with the current table, counts every token and every
    adjacent-token concatenation (truncated to 8 bytes), scores
    candidates by gain = count x length, and keeps the best
    ``max_symbols``.  Deterministic (stable sorts, fixed tie-break by
    key)."""
    flat = np.asarray(sample_bytes, np.uint8)
    if sample_lens is None:
        sample_lens = np.array([flat.size], np.int64)
    table = SymbolTable(np.zeros((0, 8), np.uint8), np.zeros(0, np.int64))
    if flat.size == 0:
        return table
    w8 = _windows8(flat)
    n = flat.size
    lens64 = np.asarray(sample_lens, np.int64)
    ends = np.cumsum(lens64)
    row_of = np.repeat(np.arange(len(lens64)), lens64)
    row_end_pos = ends[row_of]

    for _ in range(max(generations, 1)):
        tok_pos, tok_len, _ = _tokenize(flat, lens64, _Matcher(table))
        # candidate singles: every token's bytes
        cl = [tok_len]
        cp = [tok_pos]
        # candidate pairs: adjacent tokens in the same row, concat <= 8B
        if tok_pos.size > 1:
            same_row = row_of[tok_pos[1:]] == row_of[tok_pos[:-1]]
            plen = np.minimum(tok_len[:-1] + tok_len[1:],
                              np.minimum(8, row_end_pos[tok_pos[:-1]]
                                         - tok_pos[:-1]))
            cp.append(tok_pos[:-1][same_row])
            cl.append(plen[same_row])
        pos = np.concatenate(cp)
        ln = np.concatenate(cl)
        key = w8[pos] >> ((np.uint64(8) - ln.astype(np.uint64))
                          * np.uint64(8))
        # count distinct (len, key) with one lexsort
        order = np.lexsort((key, ln))
        ks, ls = key[order], ln[order]
        new = np.ones(ks.size, bool)
        new[1:] = (ks[1:] != ks[:-1]) | (ls[1:] != ls[:-1])
        grp = np.flatnonzero(new)
        cnt = np.diff(np.append(grp, ks.size))
        uk, ul = ks[grp], ls[grp]
        keep = cnt >= min_count
        uk, ul, cnt = uk[keep], ul[keep], cnt[keep]
        gain = cnt * ul
        top = np.lexsort((uk, ul, -gain))[:max_symbols]
        uk, ul = uk[top], ul[top]
        syms = np.zeros((uk.size, 8), np.uint8)
        for k in range(8):
            sh = (ul - 1 - k).astype(np.int64)
            valid = sh >= 0
            syms[valid, k] = ((uk[valid] >> (sh[valid].astype(np.uint64)
                                             * np.uint64(8)))
                              & np.uint64(0xFF)).astype(np.uint8)
        table = SymbolTable(syms, ul.astype(np.int64))
    return table


def encode_strings(data: np.ndarray, lens: np.ndarray, table: SymbolTable):
    """Encode concatenated uint8 string bytes (row lengths ``lens``).
    Returns (encoded uint8 flat, encoded row lens int64)."""
    lens = np.asarray(lens, np.int64)
    total = int(lens.sum())
    nrows = len(lens)
    if total == 0:
        return np.zeros(0, np.uint8), np.zeros(nrows, np.int64)
    flat = np.asarray(data, np.uint8)
    starts = np.cumsum(lens) - lens
    ends = starts + lens
    row_of = np.repeat(np.arange(nrows), lens)
    row_end_pos = ends[row_of]
    mlen, code = _Matcher(table).match(flat, row_end_pos)
    step = np.where(code >= 0, mlen, 1)

    # step-transposed greedy walk: emit into a 2x over-allocation
    # (escape worst case), then compact rows
    out = np.zeros(2 * total, np.uint8)
    row_out_start = np.cumsum(2 * lens) - 2 * lens
    outcnt = np.zeros(nrows, np.int64)
    cur = starts.copy()
    live = np.flatnonzero(lens > 0)
    while live.size:
        p = cur[live]
        c = code[p]
        is_sym = c >= 0
        opos = row_out_start[live] + outcnt[live]
        sym_rows = np.flatnonzero(is_sym)
        out[opos[sym_rows]] = c[sym_rows].astype(np.uint8)
        esc_rows = np.flatnonzero(~is_sym)
        out[opos[esc_rows]] = ESCAPE
        out[opos[esc_rows] + 1] = flat[p[esc_rows]]
        outcnt[live] += np.where(is_sym, 1, 2)
        cur[live] = p + step[p]
        live = live[cur[live] < ends[live]]
    enc = gather_ranges(out, row_out_start, outcnt)
    return enc, outcnt


def _run_parity_select(cand: np.ndarray, boundary: np.ndarray) -> np.ndarray:
    """cand positions chosen by greedy leftmost matching: within each
    maximal run of True (runs broken at ``boundary`` positions), keep
    even offsets."""
    if cand.size == 0:
        return cand
    prev = np.zeros_like(cand)
    prev[1:] = cand[:-1]
    prev[boundary] = False
    run_start = cand & ~prev
    idx = np.arange(cand.size)
    start_idx = np.where(run_start, idx, 0)
    start_idx = np.maximum.accumulate(np.where(cand, start_idx, idx))
    return cand & (((idx - start_idx) & 1) == 0)


def decode_strings(enc: np.ndarray, enc_lens: np.ndarray,
                   table: SymbolTable):
    """Inverse of :func:`encode_strings` -> (decoded uint8 flat, lens).
    Fully vectorized: escape parity resolves marker chains, symbol
    expansion is 8 masked scatters."""
    enc_lens = np.asarray(enc_lens, np.int64)
    total = int(enc_lens.sum())
    nrows = len(enc_lens)
    if total == 0:
        return np.zeros(0, np.uint8), np.zeros(nrows, np.int64)
    starts = np.cumsum(enc_lens) - enc_lens
    e = np.asarray(enc, np.uint8)
    sym_len = np.zeros(256, np.int64)
    sym_len[:table.size] = table.lens
    syms = np.zeros((256, 8), np.uint8)
    syms[:table.size] = table.syms

    is_marker = e == ESCAPE
    boundary = np.zeros(total, bool)
    boundary[starts[enc_lens > 0]] = True
    esc = _run_parity_select(is_marker, boundary)
    consumed = np.zeros(total, bool)
    consumed[1:] = esc[:-1]
    is_sym = ~esc & ~consumed

    # A non-escape, non-consumed code past the table is a corrupt
    # stream or a stream decoded with the wrong table — mapping it to
    # sym_len 0 would silently drop bytes and return shorter strings.
    bad = is_sym & (e.astype(np.int64) >= int(table.size))
    if bad.any():
        raise ValueError(
            f"FSST decode: code {int(e[bad.argmax()])} >= table size "
            f"{int(table.size)} — corrupt stream or symbol-table mismatch")

    out_len = np.where(esc, 1, np.where(consumed, 0, sym_len[e]))
    out_off = np.cumsum(out_len) - out_len
    out = np.zeros(int(out_len.sum()), np.uint8)
    nxt = np.zeros(total, np.uint8)
    nxt[:-1] = e[1:]
    out[out_off[esc]] = nxt[esc]
    for k in range(8):
        sel = is_sym & (out_len > k)
        out[out_off[sel] + k] = syms[e[sel], k]

    row_of = np.repeat(np.arange(nrows), enc_lens)
    dec_lens = np.bincount(row_of, weights=out_len,
                           minlength=nrows).astype(np.int64)
    return out, dec_lens


def strings_to_flat(strings) -> tuple[np.ndarray, np.ndarray]:
    """Encode a list of str/bytes to (uint8 flat, lens)."""
    bs = [s.encode("utf-8") if isinstance(s, str) else bytes(s) for s in strings]
    lens = np.fromiter((len(x) for x in bs), np.int64, count=len(bs))
    flat = np.frombuffer(b"".join(bs), np.uint8)
    return flat, lens


def flat_to_strings(flat: np.ndarray, lens: np.ndarray) -> list[str]:
    starts = np.cumsum(lens) - lens
    buf = flat.tobytes()
    return [buf[int(s): int(s) + int(n)].decode("utf-8")
            for s, n in zip(starts, lens)]

"""FSST-style symbol-table text compression (free-code substitution variant).

Like FSST (Boncz, Neumann, Leis: "FSST: Fast Random Access String
Compression", VLDB 2020) this builds a table of short byte-string symbols
chosen by frequency*length gain and replaces occurrences with 1-byte
codes. Unlike canonical FSST (which uses an escape byte), codes are drawn
ONLY from byte values that do not occur anywhere in the chunk — common for
UTF-8 text where 0xC0-0xC1/0xF5-0xFF and most control bytes are free. That
makes substitution exactly invertible with no escapes.

Encode is a SINGLE greedy longest-match pass, fully vectorized:

1. every 8-byte window of the blob is packed into a big-endian uint64
   (8 staggered aligned reads + one byteswap — no per-byte work);
2. a symbol of length L matches at a position iff the window falls inside
   the numeric range [sym·00.., sym·FF..]; ranges of prefix-related
   symbols NEST, so ONE `np.searchsorted` against the flattened elementary
   intervals yields the LONGEST matching symbol per position directly;
3. greedy selection runs on the candidate-MATCH domain (m ≪ n): the next
   compatible candidate index is `searchsorted(P, P + len)`, and the walk
   visits only selected matches (~100 ns each);
4. output assembly is three vectorized passes (coverage diff + cumsum,
   code scatter, boolean compress).

Steps 1-2 are tiled (128 K positions) so the working set stays in L2 —
measured 8→32-concurrent-worker efficiency 0.85 on this kernel (the
previous per-symbol `bytes.replace` loop re-streamed the whole blob ~128
times and saturated memory bandwidth; this pass touches each byte O(1)
times).

Symbol tables are TWO-LEVEL (see `build_two_level_tables`): level-1
symbols are raw byte strings of the original data; level-2 symbols are
substrings of the level-1-encoded stream and may contain level-1 CODES —
the canonical FSST symbols-of-symbols trick, kept to exactly two levels.
Decode expands level by level (`decode` re-derives each symbol's level
from the codes it contains), highest level first. Symbol discovery is
iterative over a bounded sample; later rounds count n-grams of the
residual-after-substitution so occurrences consumed by earlier picks are
not double-counted, and grams that contain an already-assigned code byte
are skipped within a level (they would not be raw data at that level).

If the chunk uses too many distinct byte values (e.g. random binary),
there are no free codes and the encoder signals "inapplicable" — the
codec selector then falls back to DICT/PLAIN.
"""

from __future__ import annotations

import array
import functools

import numpy as np

_MAX_SAMPLE = 1 << 17      # counting sample per round (128 KiB)
_NGRAM_SIZES = (2, 3, 4, 5, 6, 8)
_TOP_PER_SIZE = 192
_ROUNDS = 6
# More symbols now cost almost nothing at encode time (the single pass is
# symbol-count-independent); the bound only limits table metadata size.
_DEFAULT_MAX_SYMBOLS = 224
# Match-phase tile (positions). Sized so ONE WORKER's tile state (p8
# 8B/pos + iv 8B/pos + labels/masks ≈ 20B/pos → ~640 KB) fits its
# PRIVATE L2: at 32 concurrent workers the shared L3 divides to ~1-2 MB
# per core, so the former 2^17 tile (~2.6 MB/worker) spilled every tile
# to DRAM and the match phase ran at memory bandwidth, not core speed —
# the main source of the 8→32-core per-core kernel inflation.
_TILE = 1 << 15
# Greedy-walk block size (positions): matches may not cross a block
# boundary, which makes per-block greedy chains independent so they can
# advance in lockstep (vectorized gather) instead of one sequential
# Python pointer-chase over ~5M matches per 16 MB chunk. Cost: at most
# one lost match per boundary — ≲0.3% of the compression win at 2048.
_WALK_BLOCK = 1 << 11
_FULL = 1 << 64


def _ngram_counts(sample: np.ndarray, size: int) -> list[tuple[bytes, int]]:
    """Top n-grams of `size` bytes in the sample, by count.

    Windows are packed into uint64 keys (staggered aligned u64 loads,
    low bytes masked off) so np.unique sorts SCALARS — the previous
    void-dtype view forced a memcmp-based object sort that was ~20% of
    the whole per-chunk encode wall."""
    n = len(sample) - size + 1
    if n <= 0:
        return []
    pad = np.zeros(len(sample) + 8, dtype=np.uint8)
    pad[:len(sample)] = sample
    w = np.empty(n, dtype=np.uint64)
    for k in range(8):
        lane = w[k::8]
        if len(lane):
            lane[:] = np.frombuffer(pad.data, dtype="<u8", count=len(lane),
                                    offset=k)
    if size < 8:
        w &= np.uint64((1 << (8 * size)) - 1)
    uniq, counts = np.unique(w, return_counts=True)
    if len(uniq) > _TOP_PER_SIZE:
        top = np.argpartition(counts, -_TOP_PER_SIZE)[-_TOP_PER_SIZE:]
        uniq, counts = uniq[top], counts[top]
    grams = uniq[:, None].view(np.uint8).reshape(-1, 8)[:, :size]
    return [(g.tobytes(), int(c)) for g, c in zip(grams, counts)]


def free_code_bytes(data: bytes) -> list[int]:
    """Byte values absent from data (candidate symbol codes)."""
    if not data:
        return list(range(256))
    used = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
    return [i for i in range(256) if used[i] == 0]


def build_symbol_table(data: bytes, free: list[int],
                       max_symbols: int = _DEFAULT_MAX_SYMBOLS,
                       ) -> tuple[list[bytes], list[int]]:
    """Iterative gain-greedy symbol selection over a bounded sample.

    Symbols are raw substrings of `data` (≤ 8 bytes, ≥ 2). Each round
    counts n-grams of the current residual (so occurrences consumed by
    earlier picks are not re-counted), skipping grams that contain an
    already-assigned code byte."""
    max_symbols = min(max_symbols, len(free))
    if max_symbols <= 0 or len(data) < 2:
        return [], []
    residual = data[:_MAX_SAMPLE]
    code_bytes: set[int] = set()
    symbols: list[bytes] = []
    codes: list[int] = []
    per_round = max(8, -(-max_symbols // _ROUNDS))
    for _ in range(_ROUNDS):
        if len(symbols) >= max_symbols or len(residual) < 2:
            break
        sample = np.frombuffer(residual, dtype=np.uint8)
        candidates: dict[bytes, int] = {}
        for size in _NGRAM_SIZES:
            for gram, count in _ngram_counts(sample, size):
                if count >= 4 and not (code_bytes & set(gram)):
                    candidates[gram] = count
        scored = sorted(
            candidates.items(),
            key=lambda kv: ((len(kv[0]) - 1) * kv[1], len(kv[0]), kv[0]),
            reverse=True,
        )
        floor = max(8.0, len(residual) / 20000.0)
        picked: list[bytes] = []
        for gram, count in scored:
            if (len(gram) - 1) * count < floor:
                break
            # skip grams overlapping a symbol picked this round: their
            # occurrences are about to be consumed by the replace below
            if any(gram in s or s in gram for s in picked):
                continue
            picked.append(gram)
            if len(picked) >= per_round or \
                    len(symbols) + len(picked) >= max_symbols:
                break
        if not picked:
            break
        # longest-first within the round so supergrams win their overlaps
        picked.sort(key=lambda s: (-len(s), s))
        for gram in picked:
            code = free[len(symbols)]
            symbols.append(gram)
            codes.append(code)
            code_bytes.add(code)
            residual = residual.replace(gram, bytes([code]))
    return symbols, codes


def _match_table(symbols: list[bytes], codes: list[int]
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Symbols → (bounds asc uint64, lab_len uint8, lab_code uint8).

    Elementary intervals of the big-endian 8-byte-window space; each is
    labeled with the LONGEST symbol that is a prefix of every window in
    it (len 0 = no match). Prefix ranges nest, so a stack sweep builds
    the flattened intervals in O(k log k)."""
    syms = []
    for s, c in zip(symbols, codes):
        # the 8-byte-window match can only see 8 bytes; a longer symbol
        # would match its prefix yet consume len(s) bytes — corruption.
        # Internal tables are capped at 8 by _NGRAM_SIZES; foreign tables
        # are routed to the ordered-replace fallback by apply_tables.
        assert len(s) <= 8, f"symbol longer than 8 bytes: {s!r}"
        lo = int.from_bytes(s[:8].ljust(8, b"\x00"), "big")
        hi = lo + (1 << (8 * (8 - min(len(s), 8))))
        syms.append((lo, -hi, len(s), c))
    syms.sort()  # by lo asc, then wider (outer) range first
    out: list[tuple[int, int, int]] = [(0, 0, 0)]
    stack: list[tuple[int, int, int]] = []  # (hi, len, code)
    for lo, neg_hi, length, code in syms:
        hi = -neg_hi
        while stack and stack[-1][0] <= lo:
            h, _, _ = stack.pop()
            if h < _FULL:
                top = stack[-1] if stack else (0, 0, 0)
                out.append((h, top[1], top[2]))
        out.append((lo, length, code))
        stack.append((hi, length, code))
    while stack:
        h, _, _ = stack.pop()
        if h < _FULL:
            top = stack[-1] if stack else (0, 0, 0)
            out.append((h, top[1], top[2]))
    dedup: dict[int, tuple[int, int]] = {}
    for b, length, code in out:  # equal bounds: last (innermost) wins
        dedup[b] = (length, code)
    bs = sorted(dedup)
    bounds = np.array(bs, dtype=np.uint64)
    lab_len = np.array([dedup[b][0] for b in bs], dtype=np.uint8)
    lab_code = np.array([dedup[b][1] for b in bs], dtype=np.uint8)
    return bounds, lab_len, lab_code


def apply_table(data: bytes, symbols: list[bytes], codes: list[int]
                ) -> bytes | None:
    """Single greedy longest-match substitution pass.

    Precondition: no code byte occurs in `data` and no symbol contains a
    code byte (both hold by construction for tables built on this data;
    shared pass-1 tables are re-verified per chunk by the caller).
    Returns the encoded blob, or None when it would not shrink."""
    n = len(data)
    if n < 2 or not symbols:
        return None
    bounds, lab_len, lab_code = _match_table(symbols, codes)
    # pad with a code byte: absent from data AND from every symbol, so
    # end-of-blob windows can never produce a false (overhanging) match,
    # while genuine matches fully inside the blob are unaffected.
    pad = data + bytes([codes[0]]) * 16
    pos_parts, len_parts, code_parts = [], [], []
    for t0 in range(0, n, _TILE):
        cnt = min(_TILE, n - t0)
        p8 = np.empty(cnt, dtype=np.uint64)
        for k in range(8):
            lane = p8[k::8]
            if not len(lane):
                continue
            stag = np.frombuffer(pad, dtype="<u8", count=len(lane),
                                 offset=t0 + k)
            lane[:] = stag
        p8.byteswap(inplace=True)
        iv = np.searchsorted(bounds, p8, side="right") - 1
        lengths = lab_len[iv]
        loc = np.flatnonzero(lengths)
        if len(loc):
            pos_parts.append((loc + t0).astype(np.int64))
            len_parts.append(lengths[loc])
            code_parts.append(lab_code[iv[loc]])
    if not pos_parts:
        return None
    P = np.concatenate(pos_parts)
    Cp = np.concatenate(code_parts)
    Lp = np.concatenate(len_parts).astype(np.int64)
    # Greedy first-fit selection, BLOCK-SEGMENTED so it vectorizes: the
    # exact chain walk (t = next_candidate_at_or_after(P[t] + len[t])) is
    # a sequential pointer chase — profiled at ~76% of encode time as a
    # per-selected-match Python loop (~5M iterations per 16 MB chunk).
    # Instead, matches are forbidden from crossing _WALK_BLOCK-position
    # boundaries (drops ~1 potential match per boundary, ≲0.3% of the
    # size win), which makes every block's chain independent; all ~n/2K
    # chains then advance in lockstep with one vectorized gather per
    # step (max B/2 steps, since each selected match advances ≥2
    # positions). Deterministic, and decode is unchanged — it never
    # sees block structure, only non-overlapping substitutions.
    shift = _WALK_BLOCK.bit_length() - 1
    inside = (P >> shift) == ((P + Lp - 1) >> shift)
    P, Lp, Cp = P[inside], Lp[inside], Cp[inside]
    if not len(P):
        return None
    m = len(P)
    nxt = np.searchsorted(P, P + Lp).astype(np.int64)
    n_blocks = (n >> shift) + 1
    edges = np.arange(n_blocks + 1, dtype=np.int64) << shift
    starts = np.searchsorted(P, edges[:-1]).astype(np.int64)
    ends = np.searchsorted(P, edges[1:]).astype(np.int64)
    cur, lim = starts, ends
    live = cur < lim
    cur, lim = cur[live], lim[live]
    sel_parts = []
    while len(cur):
        sel_parts.append(cur)
        cur = nxt[cur]
        live = cur < lim
        if not live.all():
            cur, lim = cur[live], lim[live]
    sel = np.concatenate(sel_parts) if sel_parts else \
        np.empty(0, dtype=np.int64)
    S = P[sel]
    Ls = Lp[sel]
    # assembly: +1/-1 coverage diff over match interiors, int8 cumsum
    # (running sum is only ever 0/1 — the default int64 accumulator would
    # allocate 8n bytes per call), code scatter, boolean compress
    a = np.frombuffer(data, dtype=np.uint8)
    mark = np.zeros(n + 1, dtype=np.int8)
    mark[S + 1] = 1
    mark[S + Ls] -= 1
    keep = np.cumsum(mark[:n], dtype=np.int8) == 0
    out = a.copy()
    out[S] = Cp[sel]
    enc = out[keep].tobytes()
    return enc if len(enc) < n else None


def build_tables(data: bytes, free: list[int],
                 max_symbols: int = _DEFAULT_MAX_SYMBOLS,
                 ) -> tuple[list[bytes], list[int]]:
    """TWO-LEVEL symbol tables: level-1 symbols are raw substrings of
    `data`; level-2 symbols are substrings of the level-1-encoded stream
    and may contain level-1 CODES — the canonical symbols-of-symbols
    trick that reaches effective lengths beyond 8 raw bytes (big on
    highly structured text like URLs). Returned flat, in application
    order; `decode` re-derives the level of each symbol from which codes
    it contains, so the storage format is unchanged."""
    s1, c1 = build_symbol_table(data, free, max_symbols)
    if not s1:
        return s1, c1
    enc1 = apply_table(data[:_MAX_SAMPLE], s1, c1)
    budget = max_symbols - len(s1)
    if enc1 is None or budget < 8:
        return s1, c1
    # level-2 codes come from the REMAINDER of the original free list:
    # free in the full raw data and distinct from level-1 codes, so they
    # can never occur anywhere in the level-1-encoded stream (enc1 bytes
    # ⊆ data bytes ∪ c1) — the invertibility requirement. Bytes merely
    # absent from the encoded SAMPLE would not be safe.
    free2 = free[len(s1):]
    s2, c2 = build_symbol_table(enc1, free2, budget)
    if not s2:
        return s1, c1
    # keep level 2 only where it pays: the second apply pass costs ~30%
    # extra encode time on such columns, so demand a real size win (URL-
    # like structured text easily clears this; prose rarely does)
    enc2 = apply_table(enc1, s2, c2)
    if enc2 is None or len(enc2) > 0.85 * len(enc1):
        return s1, c1
    return s1 + s2, c1 + c2


@functools.lru_cache(maxsize=64)
def _symbol_levels(symbols: tuple, codes: tuple) -> tuple[int, ...]:
    """Level of each symbol: 1 + max level of any code byte it contains
    (1 for raw symbols). Returns () if a symbol references a code
    assigned at its own position or later (legacy/foreign table — caller
    must fall back to ordered replace). Memoized per process: every chunk
    of a column shares the plan's table, and this scan is quadratic."""
    code_level: dict[int, int] = {}
    levels: list[int] = []
    for i, (s, c) in enumerate(zip(symbols, codes)):
        lv = 1
        for b in s:
            if b in code_level:
                lv = max(lv, code_level[b] + 1)
            elif b in codes[i:] or b == c:
                return ()  # forward reference — not level-structured
        levels.append(lv)
        code_level[c] = lv
    return tuple(levels)  # shared by every caller: immutable


def apply_tables(data: bytes, symbols: list[bytes], codes: list[int]
                 ) -> bytes | None:
    """Apply a (possibly multi-level) symbol table: one vectorized
    longest-match pass PER LEVEL, ascending — level-2 symbols only exist
    in the level-1-encoded stream. Falls back to the ordered replace
    loop for tables that are not level-structured. Returns None when the
    result would not shrink."""
    levels = _symbol_levels(tuple(symbols), tuple(codes))
    if not levels or any(len(s) > 8 for s in symbols):
        # legacy/foreign table: not level-structured, or holds symbols
        # longer than the 8-byte match window (the vectorized matcher
        # would match only the first 8 bytes yet replace len(s) bytes) —
        # use the exact ordered replace loop instead
        out = data
        for sym, code in zip(symbols, codes):
            out = out.replace(sym, bytes([code]))
        return out if len(out) < len(data) else None
    out = data
    for lv in range(1, max(levels) + 1):
        s = [x for x, l_ in zip(symbols, levels) if l_ == lv]
        c = [x for x, l_ in zip(codes, levels) if l_ == lv]
        nxt = apply_table(out, s, c)
        if nxt is not None:
            out = nxt
    return out if len(out) < len(data) else None


def encode(data: bytes,
           max_symbols: int = _DEFAULT_MAX_SYMBOLS,
           ) -> tuple[bytes, list[bytes], list[int]] | None:
    """Compress the blob (two-level greedy longest-match). Returns
    (compressed, symbols, codes) or None when inapplicable (no free code
    bytes / no gain)."""
    free = free_code_bytes(data)
    if len(free) < 4:
        return None
    symbols, codes = build_tables(data, free, max_symbols)
    if not symbols:
        return None
    out = apply_tables(data, symbols, codes)
    if out is None:
        return None
    return out, symbols, codes


def _expand(compressed: bytes, symbols: list[bytes],
            codes: list[int]) -> bytes:
    """One vectorized expansion pass for a SINGLE level: per-byte output
    length via a 256-entry LUT, exclusive-cumsum offsets, literal
    gather-scatter, then one repeat-based scatter for all code
    positions. Valid because these symbols contain none of these codes,
    so every code byte in the stream was produced by its own
    substitution and expansion order within the level is irrelevant."""
    b = np.frombuffer(compressed, dtype=np.uint8)
    lens = np.ones(256, dtype=np.int64)
    symflat = np.frombuffer(b"".join(symbols), dtype=np.uint8)
    symoff = np.zeros(256, dtype=np.int64)
    off = 0
    for s, c in zip(symbols, codes):
        lens[c] = len(s)
        symoff[c] = off
        off += len(s)
    out_lens = lens[b]
    offs = np.empty(len(b) + 1, dtype=np.int64)
    offs[0] = 0
    np.cumsum(out_lens, out=offs[1:])
    out = np.empty(offs[-1], dtype=np.uint8)
    lit = out_lens == 1
    out[offs[:-1][lit]] = b[lit]
    cpos = np.flatnonzero(~lit)
    if len(cpos):
        cb = b[cpos]
        counts = lens[cb]
        total = int(counts.sum())
        starts = np.zeros(len(cpos), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        within = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
        out[np.repeat(offs[cpos], counts) + within] = \
            symflat[np.repeat(symoff[cb], counts) + within]
    return out.tobytes()


def decode(compressed: bytes, symbols: list[bytes], codes: list[int]) -> bytes:
    """Exact inverse: one vectorized expansion pass per level, highest
    level first (a level's symbols may contain LOWER-level codes — those
    expand in the subsequent passes). Tables that are not
    level-structured (legacy/foreign) fall back to reverse-order
    replace."""
    if not symbols:
        return compressed
    levels = _symbol_levels(tuple(symbols), tuple(codes))
    if not levels:
        out = compressed
        for sym, code in zip(reversed(symbols), reversed(codes)):
            out = out.replace(bytes([code]), sym)
        return out
    out = compressed
    for lv in range(max(levels), 0, -1):
        s = [x for x, l_ in zip(symbols, levels) if l_ == lv]
        c = [x for x, l_ in zip(codes, levels) if l_ == lv]
        out = _expand(out, s, c)
    return out

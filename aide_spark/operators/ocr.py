"""From-scratch fixed-font page rendering and OCR — makes the *scanned*
branch of the V6 text/scanned/hybrid ladder real end-to-end.

The reference sends scanned statement pages to a cloud OCR service
(`/root/reference/api/lambdas/textract_processor.py` invocation path); this
sandbox has no OCR model, but the statements the reference ingests are
MACHINE-PRINTED form documents (dot-matrix / laser printers, fixed pitch),
and recognizing machine-printed fixed-pitch text is classic template-match
OCR — the technique OCR-A/OCR-B fonts were designed for. This module
implements both directions from scratch, stdlib only:

* :func:`render_page` — rasterize text lines in an inline 5×7 dot-matrix
  font (the HD44780-style public-domain glyph patterns) onto a 1-bit,
  row-packed bitmap: the synthetic "scan".
* :func:`ocr_page` / :func:`ocr_gray` — recognize a bitmap back to text:
  locate the print origin, sample the fixed-pitch cell grid, match each
  5×7 cell against the glyph table by Hamming distance (nearest template,
  reject threshold → ``?``). Tolerates per-cell bit noise up to half the
  minimum pairwise glyph distance of the alphabet in use — pinned by a
  self-calibrating property test (tests/test_ocr.py).

Combined with :func:`pdf_codec.encode_pdf` image embedding and
:func:`pdf_codec.extract_pdf_images`, a scanned statement round-trips:
render → embed as 1-bit image XObject → classify ``scanned`` (V6) →
extract the image → OCR → the SAME parser expressions as the text path —
the ``e2e_scanned_ocr_extract`` query runs this under the text path's
full-strength DuckDB oracle.

At 100 TB: rendering/OCR is per-document Python inside ``mapInPandas``
(Arrow-batched, partition-parallel, zero shuffle) — the same fan-out shape
as the codec family; a 1000-executor cluster OCRs 1000 scans concurrently.
"""

from __future__ import annotations

GLYPH_W, GLYPH_H = 5, 7
X_PITCH, Y_PITCH = 6, 9  # 1 blank col between glyphs, 2 blank rows between lines
MARGIN = 4

# Classic 5×7 dot-matrix glyph patterns (HD44780-style, public domain).
_GLYPHS_ART: dict[str, list[str]] = {
    "0": [".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."],
    "1": ["..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."],
    "2": [".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"],
    "3": [".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."],
    "4": ["...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."],
    "5": ["#####", "#....", "####.", "....#", "....#", "#...#", ".###."],
    "6": ["..##.", ".#...", "#....", "####.", "#...#", "#...#", ".###."],
    "7": ["#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."],
    "8": [".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."],
    "9": [".###.", "#...#", "#...#", ".####", "....#", "...#.", ".##.."],
    "A": [".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"],
    "B": ["####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."],
    "C": [".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."],
    "D": ["###..", "#..#.", "#...#", "#...#", "#...#", "#..#.", "###.."],
    "E": ["#####", "#....", "#....", "####.", "#....", "#....", "#####"],
    "F": ["#####", "#....", "#....", "####.", "#....", "#....", "#...."],
    "G": [".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".####"],
    "H": ["#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"],
    "I": [".###.", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."],
    "J": ["..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."],
    "K": ["#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"],
    "L": ["#....", "#....", "#....", "#....", "#....", "#....", "#####"],
    "M": ["#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"],
    "N": ["#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"],
    "O": [".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."],
    "P": ["####.", "#...#", "#...#", "####.", "#....", "#....", "#...."],
    "Q": [".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"],
    "R": ["####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"],
    "S": [".####", "#....", "#....", ".###.", "....#", "....#", "####."],
    "T": ["#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."],
    "U": ["#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."],
    "V": ["#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."],
    "W": ["#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"],
    "X": ["#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"],
    "Y": ["#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."],
    "Z": ["#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"],
    "a": [".....", ".....", ".###.", "....#", ".####", "#...#", ".####"],
    "b": ["#....", "#....", "####.", "#...#", "#...#", "#...#", "####."],
    "c": [".....", ".....", ".###.", "#....", "#....", "#...#", ".###."],
    "d": ["....#", "....#", ".####", "#...#", "#...#", "#...#", ".####"],
    "e": [".....", ".....", ".###.", "#...#", "#####", "#....", ".###."],
    "f": ["..##.", ".#..#", ".#...", "###..", ".#...", ".#...", ".#..."],
    "g": [".....", ".####", "#...#", "#...#", ".####", "....#", ".###."],
    "h": ["#....", "#....", "####.", "#...#", "#...#", "#...#", "#...#"],
    "i": ["..#..", ".....", ".##..", "..#..", "..#..", "..#..", ".###."],
    "j": ["...#.", ".....", "..##.", "...#.", "...#.", "#..#.", ".##.."],
    "k": ["#....", "#....", "#..#.", "#.#..", "##...", "#.#..", "#..#."],
    "l": [".##..", "..#..", "..#..", "..#..", "..#..", "..#..", "..###"],
    "m": [".....", ".....", "##.#.", "#.#.#", "#.#.#", "#.#.#", "#.#.#"],
    "n": [".....", ".....", "####.", "#...#", "#...#", "#...#", "#...#"],
    "o": [".....", ".....", ".###.", "#...#", "#...#", "#...#", ".###."],
    "p": [".....", ".....", "####.", "#...#", "####.", "#....", "#...."],
    "q": [".....", ".....", ".####", "#...#", ".####", "....#", "....#"],
    "r": [".....", ".....", "#.###", "##...", "#....", "#....", "#...."],
    "s": [".....", ".....", ".####", "#....", ".###.", "....#", "####."],
    "t": [".#...", ".#...", "###..", ".#...", ".#...", ".#..#", "..##."],
    "u": [".....", ".....", "#...#", "#...#", "#...#", "#..##", ".##.#"],
    "v": [".....", ".....", "#...#", "#...#", "#...#", ".#.#.", "..#.."],
    "w": [".....", ".....", "#...#", "#...#", "#.#.#", "#.#.#", ".#.#."],
    "x": [".....", ".....", "#...#", ".#.#.", "..#..", ".#.#.", "#...#"],
    "y": [".....", ".....", "#...#", "#...#", ".####", "....#", ".###."],
    "z": [".....", ".....", "#####", "...#.", "..#..", ".#...", "#####"],
    ".": [".....", ".....", ".....", ".....", ".....", ".##..", ".##.."],
    ",": [".....", ".....", ".....", ".....", ".##..", "..#..", ".#..."],
    "/": ["....#", "...#.", "..#..", "..#..", ".#...", "#....", "....."],
    ":": [".....", ".##..", ".##..", ".....", ".##..", ".##..", "....."],
    "-": [".....", ".....", ".....", "#####", ".....", ".....", "....."],
    "(": ["...#.", "..#..", ".#...", ".#...", ".#...", "..#..", "...#."],
    ")": [".#...", "..#..", "...#.", "...#.", "...#.", "..#..", ".#..."],
    "+": [".....", "..#..", "..#..", "#####", "..#..", "..#..", "....."],
}


def _sig(art: list[str]) -> int:
    """7×5 art → 35-bit signature, row-major, leftmost pixel = MSB."""
    v = 0
    for row in art:
        for ch in row:
            v = (v << 1) | (ch == "#")
    return v


GLYPH_SIG: dict[str, int] = {c: _sig(a) for c, a in _GLYPHS_ART.items()}
# recognition order is deterministic: sorted by char
_TEMPLATES: list[tuple[int, str]] = sorted(
    (sig, ch) for ch, sig in GLYPH_SIG.items()
)

# --- vectorized recognition tables (r6) ------------------------------------
# Template bit matrix in _TEMPLATES order: row k = the 35 pixels of template
# k, index r*GLYPH_W+c (row-major, same order _sig packs bits MSB-first).
# numpy 1.26 has no bitwise_count, so Hamming distances run on the unpacked
# 0/1 vectors: (cells != templates).sum(-1) — one vectorized op instead of
# the per-cell 74-template Python scan that dominated the OCR profile.
import numpy as _np

_TMPL_BITS = _np.array(
    [
        [(sig >> (GLYPH_W * GLYPH_H - 1 - k)) & 1 for k in range(GLYPH_W * GLYPH_H)]
        for sig, _ in _TEMPLATES
    ],
    dtype=_np.uint8,
)
_TMPL_CHARS = [ch for _, ch in _TEMPLATES]

# glyph art as 7×5 0/1 matrices for the render blit
_GLYPH_MATS = {
    ch: _np.array(
        [[1 if px == "#" else 0 for px in row] for row in art], dtype=_np.uint8
    )
    for ch, art in _GLYPHS_ART.items()
}


def _bit_matrix(w: int, h: int, bitmap: bytes) -> "_np.ndarray":
    """(h + GLYPH_H + 2, w) 0/1 uint8 matrix of the packed bitmap, padded
    with zero rows at the bottom so cell windows never index out of range
    (out-of-range pixels read as 0, exactly like the integer path)."""
    stride = (w + 7) // 8
    arr = _np.frombuffer(bitmap, dtype=_np.uint8).reshape(h, stride)
    mat = _np.unpackbits(arr, axis=1)[:, :w]
    return _np.vstack([mat, _np.zeros((GLYPH_H + 2, w), dtype=_np.uint8)])


def _cell_block(
    matp: "_np.ndarray", w: int, x0: int, y0: int, ncells: int
) -> "_np.ndarray":
    """(ncells, 35) cell pixel vectors for the glyph row at (x0, y0):
    cell ci covers columns x0+ci*X_PITCH .. +GLYPH_W-1, rows y0..y0+GLYPH_H-1
    (callers guarantee the X range fits; Y overflow reads the zero pad)."""
    if ncells <= 0:
        return _np.zeros((0, GLYPH_W * GLYPH_H), dtype=_np.uint8)
    span = ncells * X_PITCH
    sub = matp[y0 : y0 + GLYPH_H, x0 : x0 + span]
    if sub.shape[1] < span:  # right edge: pad the trailing gap columns
        sub = _np.hstack(
            [sub, _np.zeros((GLYPH_H, span - sub.shape[1]), dtype=_np.uint8)]
        )
    cells = sub.reshape(GLYPH_H, ncells, X_PITCH)[:, :, :GLYPH_W]
    return cells.transpose(1, 0, 2).reshape(ncells, GLYPH_W * GLYPH_H)

CHARSET = "".join(sorted(_GLYPHS_ART)) + " "


def min_pairwise_distance(chars: str) -> int:
    """Smallest Hamming distance between any two glyphs of ``chars`` —
    noise below half this is provably recoverable by nearest-template."""
    sigs = [GLYPH_SIG[c] for c in chars if c != " "]
    best = GLYPH_W * GLYPH_H
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            best = min(best, (sigs[i] ^ sigs[j]).bit_count())
    return best


def render_page(
    lines: list[str], margin: int = MARGIN, width: int | None = None
) -> tuple[int, int, bytes]:
    """Text lines → (width, height, 1-bit bitmap), ink=1, rows packed
    MSB-first and padded to a whole byte — the layout a 1-bit
    ``/DeviceGray`` PDF image XObject uses (inverted: PDF 0=black).
    Characters outside the font render blank (as does space)."""
    ncols = max((len(ln) for ln in lines), default=0)
    w = width if width is not None else 2 * margin + max(ncols * X_PITCH, 1)
    h = 2 * margin + max(len(lines) * Y_PITCH, 1)
    # numpy blit per glyph (r6): slice-assign each 7×5 glyph matrix into the
    # page, then pack rows — same bitmap bytes as the per-pixel loop
    mat = _np.zeros((h, w), dtype=_np.uint8)
    for li, ln in enumerate(lines):
        y0 = margin + li * Y_PITCH
        for ci, ch in enumerate(ln):
            g = _GLYPH_MATS.get(ch)
            if g is None:
                continue
            x0 = margin + ci * X_PITCH
            if x0 + GLYPH_W > w:
                break  # clip at the right edge, like a real printer
            mat[y0 : y0 + GLYPH_H, x0 : x0 + GLYPH_W] |= g
    return w, h, _np.packbits(mat, axis=1).tobytes()


def _rows_to_bytes(bits: list[int], w: int) -> bytes:
    """Row ints back to the packed-bitmap layout (MSB-first, byte-padded)."""
    stride = (w + 7) // 8
    pad = stride * 8 - w
    return b"".join((row << pad).to_bytes(stride, "big") for row in bits)


def _fit_grid(
    bits: list[int],
    w: int,
    col_anchors: list[int],
    row_anchors: list[int],
    max_cells: int = 24,
    matp: "_np.ndarray | None" = None,
) -> tuple[int, int]:
    """Refine detected ink bounds to the true grid origin. Each anchor
    (the first row/column with ≥2 ink pixels, and with ≥1 — a thin first
    glyph like '/' never reaches 2 in any single row) bounds the origin
    from below by at most one glyph extent, so candidates are every offset
    within that window. Score = mean nearest-template distance of the
    candidate's first-line non-blank cells (0 for the true grid on a clean
    render; a misaligned grid mismatches every cell). Candidates are tried
    top-left first and ties keep the earliest — a perfect-scoring band
    lower down must not shadow a thin real first line above it."""
    xcands = sorted(
        {x for a in col_anchors for x in range(max(a - GLYPH_W + 1, 0), a + 1)}
    )
    ycands = sorted(
        {y for a in row_anchors for y in range(max(a - GLYPH_H + 1, 0), a + 1)}
    )
    h = len(bits)
    if matp is None:
        matp = _bit_matrix(w, h, _rows_to_bytes(bits, w))
    # score = template mismatch of the band's cells PLUS stray ink in the
    # grid's blank zones (the 1-px column between glyphs and the 2 rows
    # below the glyph band) — a shifted grid can fluke a cheap sparse-glyph
    # match, but it cannot hide the ink it pushes into the gaps.
    #
    # Vectorized (r6): all x-candidates of one y scored in one batch of
    # numpy ops (the per-candidate Python loop dominated the OCR profile).
    # The processed-cell cutoff replays the original sequential scan
    # exactly — it stopped once ``max_cells`` NON-blank cells were
    # consumed; blank cells in between did not count. Candidate order and
    # the earliest-perfect / earliest-best tie-breaks are unchanged.
    xs = _np.array(xcands)
    nx = xs.size
    ngeo = _np.maximum((w - xs - GLYPH_W) // X_PITCH + 1, 0)
    ncell = int(ngeo.max()) if nx else 0
    # pad right so geo-invalid cells of larger-x0 candidates read zero ink
    padw = ncell * X_PITCH + GLYPH_W
    matw = _np.hstack(
        [matp, _np.zeros((matp.shape[0], padw), dtype=_np.uint8)]
    )
    # absolute pixel columns per (candidate, cell, glyph col)
    col_idx = (
        xs[:, None, None]
        + X_PITCH * _np.arange(ncell)[None, :, None]
        + _np.arange(GLYPH_W)[None, None, :]
    )
    geo_valid = (
        xs[:, None] + X_PITCH * _np.arange(ncell)[None, :] + GLYPH_W <= w
    )
    gcol = xs[:, None] + X_PITCH * _np.arange(ncell)[None, :] + GLYPH_W
    # 7-row sliding column sums for the gap-ink term, one cumsum per page
    cs = _np.cumsum(matw, axis=0)
    zero = _np.zeros((1, matw.shape[1]), dtype=cs.dtype)
    cs = _np.vstack([zero, cs])  # cs[r] = sum of rows < r
    def _band_state(y0: int):
        """Per-candidate arrays for glyph row y0: cells, pc, masks, and the
        CHEAP score terms (speckle + gap + span + left ink) — everything of
        the original score except the nearest-template distances."""
        band = matw[y0 : y0 + GLYPH_H]
        cells = band[:, col_idx]  # (7, nx, ncell, GLYPH_W)
        cells = cells.transpose(1, 2, 0, 3).reshape(
            nx, ncell, GLYPH_W * GLYPH_H
        )
        pc = cells.sum(axis=2)
        nonblank = (pc > 1) & geo_valid
        cum_excl = _np.concatenate(
            [
                _np.zeros((nx, 1), dtype=_np.int64),
                _np.cumsum(nonblank, axis=1)[:, :-1],
            ],
            axis=1,
        )
        processed = (cum_excl < max_cells) & geo_valid
        ci = processed.sum(axis=1)
        cnt = (nonblank & processed).sum(axis=1)
        # a space cell renders blank: a lone speckle is 1 bit of
        # unexplained ink, NOT free — a shifted grid must not hide stray
        # pixels in "speckle" cells
        cheap = _np.where(processed & ~nonblank, pc, 0).sum(axis=1)
        gap7 = cs[y0 + GLYPH_H] - cs[y0]  # column ink, glyph band rows
        gap_mask = processed & (gcol < w)
        cheap = cheap + _np.where(gap_mask, gap7[gcol], 0).sum(axis=1)
        cheap = cheap.astype(_np.int64)
        for k in range(nx):
            x0 = int(xs[k])
            cik = int(ci[k])
            extra = 0
            span_mask = ((1 << (cik * X_PITCH)) - 1) << max(
                w - x0 - cik * X_PITCH, 0
            )
            for r in (y0 + GLYPH_H, y0 + GLYPH_H + 1):
                if 0 <= r < h:
                    extra += (bits[r] & span_mask).bit_count()
            if x0:
                # ink LEFT of the candidate origin is also unexplained — a
                # grid must not dodge a damaged first glyph by starting at
                # the second one
                left_mask = ((1 << x0) - 1) << (w - x0)
                for r in range(y0, min(y0 + GLYPH_H + 2, h)):
                    if r >= 0:
                        extra += (bits[r] & left_mask).bit_count()
            cheap[k] += extra
        return cells, pc, nonblank, processed, cnt, cheap

    def _dmin_term(cells, nonblank, processed, pc, k) -> int:
        sel = processed[k] & nonblank[k]
        if not sel.any():
            return 0
        d = (
            (cells[k, sel][:, None, :] != _TMPL_BITS[None, :, :])
            .sum(axis=2)
            .min(axis=1)
        )
        return int(d.sum())

    # Phase A — clean-page fast path: a zero score needs EVERY term zero,
    # so only candidates whose cheap terms are already 0 (and that have at
    # least one non-blank cell) can win outright; compute the template
    # distances just for those, in scan order, and return the earliest
    # perfect grid exactly as the sequential scan did.
    states = {}
    for y0 in ycands:
        st = states[y0] = _band_state(y0)
        cells, pc, nonblank, processed, cnt, cheap = st
        for k in range(nx):
            if cnt[k] and cheap[k] == 0:
                if _dmin_term(cells, nonblank, processed, pc, k) == 0:
                    return int(xs[k]), y0  # earliest perfect grid wins
    # Phase B — no perfect grid (noisy page): full scoring, earliest best.
    best = (float("inf"), ycands[0], xcands[0])
    for y0 in ycands:
        cells, pc, nonblank, processed, cnt, cheap = states[y0]
        for k in range(nx):
            if not cnt[k]:
                continue
            score = int(cheap[k]) + _dmin_term(
                cells, nonblank, processed, pc, k
            )
            if score < best[0]:
                best = (score, y0, int(xs[k]))
    return best[2], best[1]


def ocr_page(
    w: int,
    h: int,
    bitmap: bytes,
    origin: tuple[int, int] | None = None,
    reject: int = 12,
) -> list[str]:
    """1-bit bitmap (ink=1, packed rows) → recognized text lines.

    ``origin`` is the top-left of the first glyph cell; ``None``
    auto-detects it: the first row/column containing ≥2 ink pixels (≥2 so
    an isolated noise speckle in the margin cannot shift the grid) bounds
    the origin from below by at most one glyph extent — a first character
    like ``1`` or ``.`` has blank leading cell columns/rows — so the exact
    origin is recovered by a grid-fit search over that GLYPH_W×GLYPH_H
    window, keeping the offset whose first-line cells have the smallest
    total nearest-template distance (0 on a clean render; a misaligned
    grid scores ≫0 on every cell). From the origin, cells are sampled on
    the fixed X_PITCH×Y_PITCH grid — the form-document geometry — and each
    cell resolves to the nearest glyph by Hamming distance over the 35
    cell pixels: blank → space, distance > ``reject`` → ``?``. Trailing
    spaces and trailing empty lines are trimmed."""
    stride = (w + 7) // 8
    bits = [
        int.from_bytes(bitmap[r * stride : (r + 1) * stride], "big")
        >> (stride * 8 - w)
        for r in range(h)
    ]
    # build the matrix from the canonical row ints, not the raw buffer: a
    # truncated bitmap (garbage input) yields right-aligned short rows via
    # int.from_bytes, which a direct reshape would reject
    matp = _bit_matrix(w, h, _rows_to_bytes(bits, w))
    if origin is None:
        # anchors: first row/col with ≥2 ink pixels (resists lone margin
        # speckles) AND with ≥1 (a thin first line like '/' never puts 2
        # pixels in one row) — the grid-fit scores both windows
        row_ge1 = next((r for r in range(h) if bits[r]), None)
        if row_ge1 is None:
            return []
        row_ge2 = next((r for r in range(h) if bits[r].bit_count() >= 2), row_ge1)
        colcount = matp.sum(axis=0)
        nz = _np.nonzero(colcount)[0]
        col_ge1 = int(nz[0])
        nz2 = _np.nonzero(colcount >= 2)[0]
        col_ge2 = int(nz2[0]) if nz2.size else col_ge1
        col0, row0 = _fit_grid(
            bits, w, [col_ge1, col_ge2], [row_ge1, row_ge2], matp=matp
        )
    else:
        col0, row0 = origin
    out: list[str] = []
    li = 0
    ncells = max((w - col0 - GLYPH_W) // X_PITCH + 1, 0)
    while row0 + li * Y_PITCH + GLYPH_H <= h:
        y0 = row0 + li * Y_PITCH
        cells = _cell_block(matp, w, col0, y0, ncells)
        pc = cells.sum(axis=1)
        # blank or a lone speckle — every real glyph has ≥4 ink pixels, so
        # ≤1 is noise on a space cell. Nearest template = vectorized Hamming
        # over the 0/1 vectors; argmin keeps the FIRST minimum, the same
        # tie-break as the sequential strictly-smaller scan over _TEMPLATES.
        if ncells:
            dists = (cells[:, None, :] != _TMPL_BITS[None, :, :]).sum(axis=2)
            dmin = dists.min(axis=1)
            darg = dists.argmin(axis=1)
        chars: list[str] = []
        for ci in range(ncells):
            if pc[ci] <= 1:
                chars.append(" ")
            elif dmin[ci] <= reject:
                chars.append(_TMPL_CHARS[darg[ci]])
            else:
                chars.append("?")
        out.append("".join(chars).rstrip())
        li += 1
    while out and not out[-1]:
        out.pop()
    return out


def ocr_gray(
    w: int, h: int, pixels: bytes, threshold: int = 128, **kw
) -> list[str]:
    """8-bit grayscale page (one byte per pixel, as
    :func:`pdf_codec.extract_pdf_images` returns) → text lines. Pixels
    darker than ``threshold`` are ink — scans are dark-on-light."""
    arr = _np.frombuffer(pixels, dtype=_np.uint8).reshape(h, w)
    bm = _np.packbits(arr < threshold, axis=1).tobytes()
    return ocr_page(w, h, bm, **kw)

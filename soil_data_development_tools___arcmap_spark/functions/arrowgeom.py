"""Vectorized Arrow/numpy geometry kernels (optimization round 13).

The round-12 profile left one dominant CPU term on the whole
spatial/raster surface: the per-candidate geometric refine ran through
INTERPRETED Catalyst higher-order array functions — ~37 µs per pair
for the Sutherland–Hodgman clip in the overlay joins and ~12 µs per
cell for the even-odd ray-cast fold in the rasterizer. Per guide §4
("do the heavy lifting in native code inside the UDF" — move the
boundary, not per-row Python), this module re-expresses exactly those
refines as ``mapInArrow`` kernels over whole record batches: the data
crosses the JVM↔Python boundary once per batch as Arrow columns, and
the arithmetic runs as vectorized numpy int64/float64 array ops. They
are the only production path for those refines; the Column forms
survive only as references inside the parity tests
(tests/test_round13opt.py).

EXACTNESS CONTRACT — the kernels reproduce the Column formulations
they replaced:

- The scanline kernel (``inventory_cells``) reproduces
  ``geometry.point_in_edges``'s cross-multiplied crossing test in pure
  int64 arithmetic — the same comparisons on the same integers, so
  every containment decision (including a center exactly ON an edge,
  where the upward-strict / downward-inclusive asymmetry of the Column
  test decides) is identical. It converts the per-cell test into a
  per-(scanline, edge) interval bound via exact integer floor
  division; the derivation is in ``_SCANLINE_PROOF`` below and pinned
  against the Column form over adversarial geometry (holes,
  multipart, on-edge centers). Coordinates must be ≥ 0:
  ``raster.polygon_cell_inventory`` raises on a negative vertex
  before the kernel runs.
- The clip kernel (``overlay_clip_rect``) replays
  ``geometry.clip_ring`` over ``geometry.rect_halfplanes`` — the four
  axis half-plane passes of ``geometry._halfplane_pass`` — with the same
  IEEE-754 double operations in the same order (the interpolation
  ``t = (b - a)/(p - a)``, ``o = a + (p - a) * t``) and accumulates the
  shoelace fold in index order exactly like ``F.aggregate`` (padding
  adds +0.0, an exact identity — the accumulator can never be -0.0
  because it starts at +0.0). The final round is ``floor(x + 0.5)``,
  not Spark's decimal HALF_UP: the two differ on doubles whose
  ``+ 0.5`` rounds across the tie (0.49999999999999994 gives 1 here,
  0 in Spark). ACCEPTED DEVIATION — unreachable on the integer-grid
  overlay queries, where every intermediate is an exactly-represented
  integer; the parity tests cover general rings away from that
  corner.

POLICY (PLANS.md §"Known costs, accepted" updated r13): these are the
third sanctioned Python-boundary family after the media codecs and the
UDTF demo. They ship ONLY the columns the refine needs (guide §4.1 —
an explicit select precedes every mapInArrow) and declare their output
schema from the input schema. ``inventory_cells`` chunks its ragged
expansions so its peak memory is bounded regardless of batch size;
``overlay_clip_rect`` is NOT row-chunked — it pads every ring of a
batch to (rows x longest ring) float64 lanes, so one long ring widens
the whole batch (fine for the 4-vertex overlay layers it serves).

FAULT TOLERANCE: unchanged — mapInArrow tasks recompute from lineage
like any narrow transformation.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SCANLINE_PROOF = """
Scanline equivalence proof (inventory_cells vs point_in_edges).

Column test, per edge e=(xa,ya,xb,yb) and probe (px,py), all int64:
  crossing: (ya > py) != (yb > py)             [implies dy = yb-ya != 0]
  counts:   ((px-xa)*dy < (xb-xa)*(py-ya)) == (dy > 0)
Let C = xa*dy + (xb-xa)*(py-ya), so (px-xa)*dy < (xb-xa)*(py-ya)
  <=> px*dy < C.
dy > 0:  counts <=> px*dy < C <=> px <= floor((C-1)/dy)
         (integers: px*dy <= C-1 <=> px <= (C-1)/dy, dy>0)
dy < 0:  counts <=> NOT(px*dy < C) <=> px*dy >= C <=> px <= floor(C/dy)
         (divide by dy<0 flips; with q=floor(C/dy), r=C-q*dy in (dy,0]:
          px<=q => px*dy >= q*dy = C-r >= C;
          px>=q+1 => px*dy <= C-r+dy < C since dy < r)
So each crossing edge contributes iff px <= pxmax_e where
  pxmax_e = (C-1)//dy  if dy>0 else  C//dy          (floor division)
and with px = col*cs + half (cs>0):
  px <= pxmax_e <=> col <= (pxmax_e - half)//cs =: colmax_e.
Containment parity at col is therefore
  |{crossing e : colmax_e >= col}| mod 2,
computed per scanline with one histogram + reverse cumulative sum —
identical to folding the per-cell test, for every cell including
centers exactly on an edge (no "never edge-incident" assumption is
needed: the strict/non-strict asymmetry is carried by the -1).
"""


def _seg_arange(counts):
    """0..c-1 within each segment of a counts vector, flattened."""
    import numpy as np

    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def _list_int64_parts(arr, *fields):
    """(lengths, field arrays...) of a list<struct<...>> Arrow column,
    offset/slice-safe (flatten respects the slice window)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    lens = lens.astype("int64")
    flat = arr.flatten()
    outs = [
        flat.field(f).to_numpy(zero_copy_only=False).astype("int64")
        for f in fields
    ]
    return lens, outs


# ---------------------------------------------------------------------------
# 1. scanline cell inventory (rasterizer hot path)
# ---------------------------------------------------------------------------


def inventory_cells(
    tiles: DataFrame, cell_size: int, tile_cells: int
) -> DataFrame:
    """The rasterizer's tile→cell explode + CELL_CENTER containment as
    ONE mapInArrow scanline kernel. Input: one row per (polygon, tile)
    carrying ``_edges`` (``rings_to_edges`` output), the candidate
    index bounds ``_i0.._j1``, ``tile_x``/``tile_y``, and any carry
    columns. Output: one row per INSIDE cell — the carry columns plus
    (tile_x, tile_y, col, row, cx, cy), exactly the rows and values
    ``point_in_edges(...) == 1`` keeps (proof: ``_SCANLINE_PROOF``).

    Work per tile is O(scanlines x edges + cells) instead of
    O(cells x edges), and it runs as vectorized numpy int64 ops
    instead of one interpreted Catalyst ``aggregate`` fold per cell
    (guide §4.2). Ragged expansions are chunked so peak memory is
    bounded (~a few M lanes) regardless of Arrow batch size."""
    import pyarrow as pa

    cs = int(cell_size)
    half = cs // 2
    t = int(tile_cells)

    carry = [
        f for f in tiles.schema.fields
        if f.name not in ("_edges", "_i0", "_i1", "_j0", "_j1",
                          "tile_x", "tile_y")
    ]
    in_names = [f.name for f in tiles.schema.fields]
    idx = {n: i for i, n in enumerate(in_names)}
    out_fields = [
        *[(f.name, f.dataType.simpleString()) for f in carry],
        ("tile_x", "bigint"), ("tile_y", "bigint"),
        ("col", "bigint"), ("row", "bigint"),
        ("cx", "bigint"), ("cy", "bigint"),
    ]
    out_schema = ", ".join(f"{n} {ty}" for n, ty in out_fields)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            g = lambda name: (  # noqa: E731
                batch.column(idx[name])
                .to_numpy(zero_copy_only=False)
                .astype("int64")
            )
            i0, i1 = g("_i0"), g("_i1")
            j0, j1 = g("_j0"), g("_j1")
            tx, ty = g("tile_x"), g("tile_y")
            ne, (xa, ya, xb, yb) = _list_int64_parts(
                batch.column(idx["_edges"]), "xa", "ya", "xb", "yb"
            )
            eoff = np.zeros(n, dtype=np.int64)
            np.cumsum(ne[:-1], out=eoff[1:])
            c0 = np.maximum(i0, tx * t)
            c1 = np.minimum(i1, tx * t + t - 1)
            r0 = np.maximum(j0, ty * t)
            r1 = np.minimum(j1, ty * t + t - 1)
            ni = np.maximum(c1 - c0 + 1, 0)
            nj = np.maximum(r1 - r0 + 1, 0)

            # chunk rows so scanline-pair lanes stay bounded
            lanes = nj * np.maximum(ne, 1) + ni * nj
            cum = np.cumsum(lanes)
            bounds = [0]
            budget = 4_000_000
            while bounds[-1] < n:
                lo = bounds[-1]
                base = cum[lo - 1] if lo else 0
                hi = int(np.searchsorted(cum, base + budget, side="left"))
                bounds.append(max(hi + 1, lo + 1) if hi < n else n)
            for lo, hi in zip(bounds[:-1], bounds[1:]):
                sl = slice(lo, hi)
                out = _scan_tiles(
                    np, c0[sl], c1[sl], r0[sl], r1[sl], ni[sl], nj[sl],
                    ne[sl], eoff[sl], xa, ya, xb, yb, cs, half,
                )
                if out is None:
                    continue
                ridx, col, row = out
                arrs = []
                take = pa.array(ridx + lo)
                for f in carry:
                    arrs.append(batch.column(idx[f.name]).take(take))
                arrs.append(pa.array(tx[sl][ridx], type=pa.int64()))
                arrs.append(pa.array(ty[sl][ridx], type=pa.int64()))
                arrs.append(pa.array(col, type=pa.int64()))
                arrs.append(pa.array(row, type=pa.int64()))
                arrs.append(pa.array(col * cs + half, type=pa.int64()))
                arrs.append(pa.array(row * cs + half, type=pa.int64()))
                yield pa.RecordBatch.from_arrays(
                    arrs, [nm for nm, _ in out_fields]
                )

    return tiles.mapInArrow(fn, out_schema)


def _scan_tiles(np, c0, c1, r0, r1, ni, nj, ne, eoff, xa, ya, xb, yb,
                cs, half):
    """One chunk of the scanline kernel: returns (input-row index,
    col, row) arrays of the inside cells, or None when empty."""
    n = len(c0)
    nseg = int(nj.sum())  # one segment per (input row, scanline)
    if nseg == 0:
        return None
    seg_row = np.repeat(np.arange(n, dtype=np.int64), nj)
    seg_j = r0[seg_row] + _seg_arange(nj)
    seg_cy = seg_j * cs + half

    # (scanline, edge) pair expansion
    ne_seg = ne[seg_row]
    npair = int(ne_seg.sum())
    inside_mask = None
    if npair:
        pair_seg = np.repeat(np.arange(nseg, dtype=np.int64), ne_seg)
        e_global = eoff[seg_row][pair_seg] + _seg_arange(ne_seg)
        pxa, pya = xa[e_global], ya[e_global]
        pxb, pyb = xb[e_global], yb[e_global]
        pcy = seg_cy[pair_seg]
        dy = pyb - pya
        crossing = (pya > pcy) != (pyb > pcy)
        if crossing.any():
            pair_seg = pair_seg[crossing]
            dy = dy[crossing]
            C = (pxa[crossing] * dy
                 + (pxb[crossing] - pxa[crossing])
                 * (pcy[crossing] - pya[crossing]))
            pxmax = np.where(dy > 0, (C - 1) // dy, C // dy)
            colmax = (pxmax - half) // cs
            pc0 = c0[seg_row][pair_seg]
            pc1 = c1[seg_row][pair_seg]
            m = np.clip(colmax, pc0 - 1, pc1)
            # histogram of clamped colmax per segment over [c0-1 .. c1]
            segw = (ni + 1)[seg_row]  # width per segment
            segb = np.zeros(nseg, dtype=np.int64)
            np.cumsum(segw[:-1], out=segb[1:])
            width_total = int(segw.sum())
            flatpos = segb[pair_seg] + (m - (pc0 - 1))
            hist = np.bincount(flatpos, minlength=width_total)
            # reverse cumsum within segments: cnt[p] = sum(hist[p:end])
            gc = np.cumsum(hist)
            seg_end_cum = gc[segb + segw - 1]  # inclusive cum at seg end
            cnt = seg_end_cum[np.repeat(np.arange(nseg), segw)] - gc + hist
            inside_mask = (cnt % 2).astype(bool)
            # drop the sentinel position (col = c0-1) per segment
            inside_mask[segb] = False

    if inside_mask is None or not inside_mask.any():
        return None
    pos = np.nonzero(inside_mask)[0]
    # map flat histogram positions back to (segment, col)
    segw = ni + 1
    segw_seg = segw[seg_row]
    segb = np.zeros(nseg, dtype=np.int64)
    np.cumsum(segw_seg[:-1], out=segb[1:])
    seg_of = np.searchsorted(segb, pos, side="right") - 1
    col = (c0[seg_row] - 1)[seg_of] + (pos - segb[seg_of])
    return seg_row[seg_of], col, seg_j[seg_of]


# ---------------------------------------------------------------------------
# 2. Sutherland–Hodgman rect clip (overlay joins)
# ---------------------------------------------------------------------------


def _clip_pass(np, X, Y, k, bound, axis_is_x, keep_ge):
    """One vectorized SH half-plane pass over padded (n, L) rings with
    per-row valid count k. Same emission rule and the same double ops
    as geometry._halfplane_pass over an axis half-plane
    (geometry.rect_halfplanes). Returns (X', Y', k')."""
    n, L = X.shape
    if L == 0:
        return X, Y, k
    bound = np.broadcast_to(bound, (n, L))
    lane = np.arange(L, dtype=np.int64)[None, :]
    valid = lane < k[:, None]
    nxt = lane + 1
    nxt = np.where(nxt >= k[:, None], 0, nxt)
    Xn = np.take_along_axis(X, nxt, axis=1)
    Yn = np.take_along_axis(Y, nxt, axis=1)
    A = X if axis_is_x else Y
    An = Xn if axis_is_x else Yn
    O = Y if axis_is_x else X  # noqa: E741
    On = Yn if axis_is_x else Xn
    in_cur = (A >= bound) if keep_ge else (A <= bound)
    in_nxt = (An >= bound) if keep_ge else (An <= bound)
    with np.errstate(divide="ignore", invalid="ignore"):
        tt = (bound - A) / (An - A)
        oi = O + (On - O) * tt
    cnt = np.where(
        valid,
        np.where(
            in_cur & in_nxt, 1,
            np.where(in_cur != in_nxt, np.where(in_cur, 1, 2), 0),
        ),
        0,
    ).astype(np.int64)
    k2 = cnt.sum(axis=1)
    L2 = int(k2.max()) if n else 0
    X2 = np.zeros((n, max(L2, 1)), dtype=np.float64)
    Y2 = np.zeros_like(X2)
    pos = np.cumsum(cnt, axis=1) - cnt  # exclusive prefix
    rows = np.broadcast_to(np.arange(n)[:, None], (n, L))
    # category scatters (flat fancy indexing)
    both = valid & in_cur & in_nxt
    X2[rows[both], pos[both]] = Xn[both]
    Y2[rows[both], pos[both]] = Yn[both]
    exiting = valid & in_cur & ~in_nxt
    if axis_is_x:
        X2[rows[exiting], pos[exiting]] = bound[exiting]
        Y2[rows[exiting], pos[exiting]] = oi[exiting]
    else:
        X2[rows[exiting], pos[exiting]] = oi[exiting]
        Y2[rows[exiting], pos[exiting]] = bound[exiting]
    entering = valid & ~in_cur & in_nxt
    if axis_is_x:
        X2[rows[entering], pos[entering]] = bound[entering]
        Y2[rows[entering], pos[entering]] = oi[entering]
    else:
        X2[rows[entering], pos[entering]] = oi[entering]
        Y2[rows[entering], pos[entering]] = bound[entering]
    X2[rows[entering], pos[entering] + 1] = Xn[entering]
    Y2[rows[entering], pos[entering] + 1] = Yn[entering]
    return X2[:, :max(L2, 1)], Y2[:, :max(L2, 1)], k2


def _shoelace_round(np, X, Y, k):
    """round(|shoelace fold|) as ring_area2x + F.round: terms in
    index order (wraparound edge included), left-fold accumulation,
    <3 vertices → 0, floor(x + 0.5) to int64 (HALF_UP except on the
    corner the module docstring records)."""
    n, L = X.shape
    lane = np.arange(L, dtype=np.int64)[None, :]
    nxt = lane + 1
    nxt = np.where(nxt >= k[:, None], 0, nxt)
    Xn = np.take_along_axis(X, nxt, axis=1)
    Yn = np.take_along_axis(Y, nxt, axis=1)
    terms = X * Yn - Xn * Y
    acc = np.zeros(n, dtype=np.float64)
    valid = lane < k[:, None]
    for i in range(L):
        acc = acc + np.where(valid[:, i], terms[:, i], 0.0)
    area = np.where(k < 3, 0.0, np.abs(acc))
    return np.floor(area + 0.5).astype(np.int64)


def _normalize_rings(np, X, Y, k):
    """Vectorized normalize_ring: drop consecutive duplicates
    (wraparound included), drop collinear vertices (cross of immediate
    ORIGINAL neighbors in the deduped ring), rotate so the
    lexicographically smallest (x, y) vertex leads — the same passes,
    same exact comparisons. Returns (X', Y', k')."""
    n, L = X.shape
    lane = np.arange(L, dtype=np.int64)[None, :]

    def compact(keep, X, Y, k):
        k2 = keep.sum(axis=1)
        L2 = int(k2.max()) if n else 0
        X2 = np.zeros((n, max(L2, 1)), dtype=np.float64)
        Y2 = np.zeros_like(X2)
        pos = np.cumsum(keep, axis=1) - keep
        rows = np.broadcast_to(np.arange(n)[:, None], keep.shape)
        X2[rows[keep], pos[keep]] = X[keep]
        Y2[rows[keep], pos[keep]] = Y[keep]
        return X2, Y2, k2

    valid = lane < k[:, None]
    nxt = np.where(lane + 1 >= k[:, None], 0, lane + 1)
    Xn = np.take_along_axis(X, nxt, axis=1)
    Yn = np.take_along_axis(Y, nxt, axis=1)
    keep = valid & ~((X == Xn) & (Y == Yn))
    X, Y, k = compact(keep, X, Y, k)

    # collinear pass only where k >= 3 (smaller rings pass through)
    n2, L2 = X.shape
    lane = np.arange(L2, dtype=np.int64)[None, :]
    valid = lane < k[:, None]
    kk = np.maximum(k, 1)[:, None]
    nxt = (lane + 1) % kk
    prv = (lane + kk - 1) % kk
    Xn = np.take_along_axis(X, nxt, axis=1)
    Yn = np.take_along_axis(Y, nxt, axis=1)
    Xp = np.take_along_axis(X, prv, axis=1)
    Yp = np.take_along_axis(Y, prv, axis=1)
    cross = (X - Xp) * (Yn - Yp) - (Y - Yp) * (Xn - Xp)
    keep = valid & ((cross != 0) | (k[:, None] < 3))
    X, Y, k = compact(keep, X, Y, k)

    # rotate to lexicographic min where k >= 3
    n3, L3 = X.shape
    lane = np.arange(L3, dtype=np.int64)[None, :]
    valid = lane < k[:, None]
    Xm = np.where(valid, X, np.inf)
    Ym = np.where(valid, Y, np.inf)
    # first index attaining the lexicographic (x, y) minimum
    best_x = Xm.min(axis=1)
    is_min_x = Xm == best_x[:, None]
    Ym_x = np.where(is_min_x, Ym, np.inf)
    best_y = Ym_x.min(axis=1)
    lead = np.argmax(is_min_x & (Ym_x == best_y[:, None]), axis=1)
    lead = np.where(k < 3, 0, lead)
    kk = np.maximum(k, 1)[:, None]
    src = (lane + lead[:, None]) % kk
    X = np.where(valid, np.take_along_axis(X, src, axis=1), 0.0)
    Y = np.where(valid, np.take_along_axis(Y, src, axis=1), 0.0)
    return X, Y, k


def overlay_clip_rect(
    df: DataFrame,
    ring_col: str,
    bx0: str,
    by0: str,
    bx1: str,
    by1: str,
    out_cols: list[str],
    emit_wkt: bool = False,
) -> DataFrame:
    """The overlay joins' per-pair refine as one mapInArrow kernel:
    Sutherland–Hodgman clip of the pre-parsed A ring by B's rect
    window (same four passes, same double ops as ``clip_ring`` over
    ``rect_halfplanes``), doubled-area shoelace with Spark's
    fold order and half-up round, keep pairs with ``ov_a2x > 0``.
    With ``emit_wkt`` additionally serializes the normalized clipped
    ring exactly like ``ring_to_wkt(normalize_ring(c))``. Output:
    ``out_cols`` + [clip_wkt] + ov_a2x."""
    import pyarrow as pa

    sel = df.select(*out_cols, ring_col, bx0, by0, bx1, by1)
    idx = {f.name: i for i, f in enumerate(sel.schema.fields)}
    out_names = list(out_cols) + (["clip_wkt"] if emit_wkt else []) + [
        "ov_a2x"
    ]
    type_of = {
        f.name: f.dataType.simpleString() for f in sel.schema.fields
    }
    out_schema = ", ".join(
        [f"{c} {type_of[c]}" for c in out_cols]
        + (["clip_wkt string"] if emit_wkt else [])
        + ["ov_a2x bigint"]
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ring = batch.column(idx[ring_col])
            if isinstance(ring, pa.ChunkedArray):
                ring = ring.combine_chunks()
            kk = pc.list_value_length(ring).to_numpy(
                zero_copy_only=False
            ).astype("int64")
            flat = ring.flatten()
            fx = flat.field("x").to_numpy(zero_copy_only=False)
            fy = flat.field("y").to_numpy(zero_copy_only=False)
            L = int(kk.max()) if n else 0
            X = np.zeros((n, max(L, 1)), dtype=np.float64)
            Y = np.zeros_like(X)
            roff = np.zeros(n, dtype=np.int64)
            np.cumsum(kk[:-1], out=roff[1:])
            lane = np.arange(max(L, 1), dtype=np.int64)[None, :]
            valid = lane < kk[:, None]
            src = np.minimum(roff[:, None] + lane, max(len(fx) - 1, 0))
            if len(fx):
                X = np.where(valid, fx[src], 0.0)
                Y = np.where(valid, fy[src], 0.0)
            wins = [
                batch.column(idx[c])
                .to_numpy(zero_copy_only=False)
                .astype("float64")
                for c in (bx0, bx1, by0, by1)
            ]
            wx0, wx1, wy0, wy1 = wins
            # the window bounds vary per row: pass them as per-row
            # "bound" arrays broadcast against the lanes
            Xc, Yc, kc = _clip_pass(
                np, X, Y, kk, wx0[:, None], True, True
            )
            Xc, Yc, kc = _clip_pass(np, Xc, Yc, kc, wx1[:, None], True, False)
            Xc, Yc, kc = _clip_pass(np, Xc, Yc, kc, wy0[:, None], False, True)
            Xc, Yc, kc = _clip_pass(np, Xc, Yc, kc, wy1[:, None], False, False)
            a2x = _shoelace_round(np, Xc, Yc, kc)
            survivors = a2x > 0
            if not survivors.any():
                continue
            take_np = np.nonzero(survivors)[0]
            take = pa.array(take_np)
            arrs = [batch.column(idx[c]).take(take) for c in out_cols]
            if emit_wkt:
                Xs, Ys, ks = _normalize_rings(
                    np, Xc[take_np], Yc[take_np], kc[take_np]
                )
                xi = Xs.astype(np.int64)
                yi = Ys.astype(np.int64)
                wkts = []
                for r in range(len(take_np)):
                    m = int(ks[r])
                    if m < 3:
                        wkts.append("POLYGON EMPTY")
                        continue
                    pts = ", ".join(
                        f"{xi[r, i]} {yi[r, i]}" for i in range(m)
                    )
                    wkts.append(
                        f"POLYGON (({pts}, {xi[r, 0]} {yi[r, 0]}))"
                    )
                arrs.append(pa.array(wkts, type=pa.string()))
            arrs.append(pa.array(a2x[take_np], type=pa.int64()))
            yield pa.RecordBatch.from_arrays(arrs, out_names)

    return sel.mapInArrow(fn, out_schema)

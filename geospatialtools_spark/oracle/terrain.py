"""Numpy oracle of the reference terrain kernels (0-based indexing).

Every function cites the Fortran it ports (``/root/reference/src/``).
Grids are (nx, ny); ``i`` is the first axis. ``fdir`` is an int32
(nx, ny, 2) array of 0-based downstream (i, j) targets; targets may lie
OUTSIDE the grid (the reference stores them that way and every consumer
bounds-checks); -9999 means "no direction". Reproduced quirks:

- D8 neighbor order = Fortran positions array: (-1,-1),(-1,0),(-1,1),
  (0,-1),(0,1),(1,-1),(1,0),(1,1) (``terrain_tools.f90:188-197``);
- `calculate_d8_acc` does NOT length-correct diagonals
  (``terrain_tools.f90:210-215``: 1.414 commented out) while the
  `_wipoints` variant and MFD DO (``:343-347, 601-605``);
- maxloc/minloc break ties at the first occurrence in positions order, and
  2-D maxloc scans column-major (i fastest) (``terrain_tools.f90:808``);
- cells bordering the grid edge flow INTO the out-of-grid direction
  (``terrain_tools.f90:222-225`` minloc branch).
"""

from __future__ import annotations

import sys

import numpy as np

UNDEF = -9999.0
IUNDEF = -9999

# Fortran positions order, terrain_tools.f90:188-197 (k outer, l inner)
P8 = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
# clockwise order used by hillslope delineation, terrain_tools.f90:1386-1395
P8_CLOCK = [(-1, 0), (-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1)]

DIAG = np.float32(1.41421356237)


def _argmax2d_fortran(a: np.ndarray) -> tuple[int, int]:
    """Fortran ``maxloc`` on a 2-D array: first max in column-major order."""
    flat = np.argmax(a.T)  # C-flat of a.T == Fortran-flat of a
    nx = a.shape[0]
    return int(flat % nx), int(flat // nx)


def slope_aspect(dem: np.ndarray, dx: np.ndarray, dy: np.ndarray):
    """Horn-style 3x3 slope/aspect (terrain_tools.f90:14-54).

    Border cells clamp the stencil to the grid (:32-35). Cells with
    dem == -9999 keep -9999 (slope is initialized to dem, :23); aspect for
    those cells is -9999 here (the Fortran leaves it uninitialized).
    """
    dem = dem.astype(np.float32)
    dx = dx.astype(np.float32)
    dy = dy.astype(np.float32)
    nx, ny = dem.shape
    ii = np.arange(nx)[:, None] * np.ones((1, ny), dtype=int)
    jj = np.ones((nx, 1), dtype=int) * np.arange(ny)[None, :]
    imin = np.maximum(ii - 1, 0)
    imax = np.minimum(ii + 1, nx - 1)
    jmin = np.maximum(jj - 1, 0)
    jmax = np.minimum(jj + 1, ny - 1)

    def g(a, I, J):
        return a[I, J]

    dzdy = ((g(dem, imin, jmin) + 2 * g(dem, ii, jmin) + g(dem, imax, jmin))
            - (g(dem, imin, jmax) + 2 * g(dem, ii, jmax) + g(dem, imax, jmax))) / (
        (g(dy, imin, jmin) + 2 * g(dy, ii, jmin) + g(dy, imax, jmin))
        + (g(dy, imin, jmax) + 2 * g(dy, ii, jmax) + g(dy, imax, jmax)))
    dzdx = ((g(dem, imin, jmin) + 2 * g(dem, imin, jj) + g(dem, imin, jmax))
            - (g(dem, imax, jmin) + 2 * g(dem, imax, jj) + g(dem, imax, jmax))) / (
        (g(dx, imin, jmin) + 2 * g(dx, imin, jj) + g(dx, imin, jmax))
        + (g(dx, imax, jmin) + 2 * g(dx, imax, jj) + g(dx, imax, jmax)))
    slope = np.sqrt(dzdx ** 2 + dzdy ** 2).astype(np.float32)
    aspect = np.arctan2(dzdy, -dzdx).astype(np.float32)
    und = dem == np.float32(UNDEF)
    slope[und] = np.float32(UNDEF)
    aspect[und] = np.float32(UNDEF)
    return slope, aspect


# ---------------------------------------------------------------------------
# Pit removal
# ---------------------------------------------------------------------------

def planchon_fill(dem: np.ndarray, res: float) -> np.ndarray:
    """Planchon & Darboux (2001) depression filling (planchon_2001.f90:15-186).

    minslope=0.0001, eps=minslope*res (:22-25), wmax=1e6 (:9).
    Stage 1 (:160-186): border / undef-adjacent cells keep z, others wmax.
    Stage 2 §1 (:122-138): dry upward from border cells.
    Stage 2 §2 (:77-120): 8 alternating scans, operations 1 and 2.
    """
    z = dem.astype(np.float32)
    nx, ny = z.shape
    undef = np.float32(UNDEF)
    wmax = np.float32(1000000.0)
    eps = np.float32(np.float32(0.0001) * np.float32(res))

    # Stage 1
    w = z.copy()
    b = np.zeros((nx, ny), dtype=np.int32)
    interior = np.ones((nx, ny), dtype=bool)
    for (k, l) in P8:
        valid = np.zeros((nx, ny), dtype=bool)
        i0, i1 = max(0, -k), nx - max(0, k)
        j0, j1 = max(0, -l), ny - max(0, l)
        valid[i0:i1, j0:j1] = z[i0 + k:i1 + k, j0 + l:j1 + l] != undef
        interior &= valid
    live = z != undef
    border = live & ~interior
    b[border] = 1
    w[live & interior] = wmax  # border/undef-adjacent keep z

    def dry_upward(x0: int, y0: int):
        """planchon_2001.f90:140-158 — DFS preserving recursion order."""
        stack = [(x0, y0, 0)]
        while stack:
            x, y, pos = stack.pop()
            if pos >= 8:
                continue
            stack.append((x, y, pos + 1))
            k, l = P8[pos]
            xn, yn = x + k, y + l
            if xn < 0 or xn >= nx or yn < 0 or yn >= ny or w[xn, yn] == undef:
                continue
            if (z[xn, yn] >= w[x, y] + eps) and (w[xn, yn] == wmax):
                w[xn, yn] = z[xn, yn]
                stack.append((xn, yn, 0))

    # Stage 2 section 1
    for x in range(nx):
        for y in range(ny):
            if b[x, y] == 1:
                dry_upward(x, y)

    # Stage 2 section 2 — the 8 scan orders of next_cell (planchon_2001.f90:28-33,58-75)
    def scan_cells(s: int):
        rng_r = range(ny)
        rng_c = range(nx)
        rrev = range(ny - 1, -1, -1)
        crev = range(nx - 1, -1, -1)
        if s == 0:
            return ((c, r) for r in rng_r for c in rng_c)
        if s == 1:
            return ((c, r) for r in rrev for c in crev)
        if s == 2:
            return ((c, r) for c in crev for r in rng_r)
        if s == 3:
            return ((c, r) for c in rng_c for r in rrev)
        if s == 4:
            return ((c, r) for r in rng_r for c in crev)
        if s == 5:
            return ((c, r) for r in rrev for c in rng_c)
        if s == 6:
            return ((c, r) for c in rng_c for r in rng_r)
        return ((c, r) for c in crev for r in rrev)

    for _ in range(1000):
        something_done = False
        for s in range(8):
            something_done = False
            for (c, r) in scan_cells(s):
                if z[c, r] != undef and w[c, r] > z[c, r]:
                    for (k, l) in P8:
                        xn, yn = c + k, r + l
                        if xn < 0 or xn >= nx or yn < 0 or yn >= ny or w[xn, yn] == undef:
                            continue
                        if z[c, r] >= w[xn, yn] + eps:  # operation 1
                            w[c, r] = z[c, r]
                            something_done = True
                            dry_upward(c, r)
                            break
                        if w[c, r] > w[xn, yn] + eps:  # operation 2
                            w[c, r] = w[xn, yn] + eps
                            something_done = True
            if not something_done:
                break
        if not something_done:
            break
    return w


def remove_pits_simple(dem: np.ndarray, res: float) -> np.ndarray:
    """Iterative pit raising (terrain_tools.f90:56-169).

    minslope=0.01 (:138): a cell with no strictly-positive downslope is
    raised to lowest-neighbor + 0.01*res and the fix chases downstream
    (:155-166). Border cells and undef cells are skipped (:140-141).
    Diagonal lengths ARE corrected here (:148-152).
    """
    demns = dem.astype(np.float32).copy()
    nx, ny = demns.shape
    undef = np.float32(UNDEF)
    minslope = np.float32(0.01)
    res32 = np.float32(res)

    def check(i0: int, j0: int, counter: list[int]):
        stack = [(i0, j0)]
        while stack:
            i, j = stack.pop()
            if demns[i, j] == undef:
                continue
            if i == 0 or i == nx - 1 or j == 0 or j == ny - 1:
                continue
            slopes = np.full(8, UNDEF, dtype=np.float32)
            for pos, (k, l) in enumerate(P8):
                if i + k < 0 or j + l < 0 or i + k >= nx or j + l >= ny:
                    continue
                length = DIAG * res32 if (k + l) in (-2, 0, 2) else res32
                slopes[pos] = (demns[i, j] - demns[i + k, j + l]) / length
            if slopes.max() <= 0:
                pos = int(np.argmax(slopes))
                inew, jnew = i + P8[pos][0], j + P8[pos][1]
                demns[i, j] = demns[inew, jnew] + minslope * res32
                counter[0] += 1
                stack.append((inew, jnew))

    # bounding-box sweep loop, terrain_tools.f90:88-123
    imin, imax, jmin, jmax = 0, nx - 1, 0, ny - 1
    for _ in range(100000):
        counter = [0]
        for i in range(imin, imax + 1):
            for j in range(jmin, jmax + 1):
                check(i, j, counter)
        if counter[0] == 0:
            counter = [0]
            for i in range(nx):
                for j in range(ny):
                    check(i, j, counter)
            if counter[0] == 0:
                break
    return demns


# ---------------------------------------------------------------------------
# D8 / MFD flow direction and accumulation
# ---------------------------------------------------------------------------

def _slopes_stack(dem: np.ndarray, res: float, fill: float, diag_corrected: bool) -> np.ndarray:
    """(8, nx, ny) float32 stack of slopes toward each P8 neighbor."""
    dem = dem.astype(np.float32)
    nx, ny = dem.shape
    res32 = np.float32(res)
    slopes = np.full((8, nx, ny), fill, dtype=np.float32)
    for pos, (k, l) in enumerate(P8):
        length = DIAG * res32 if (diag_corrected and (k + l) in (-2, 0, 2)) else res32
        i0, i1 = max(0, -k), nx - max(0, k)
        j0, j1 = max(0, -l), ny - max(0, l)
        slopes[pos, i0:i1, j0:j1] = (dem[i0:i1, j0:j1] - dem[i0 + k:i1 + k, j0 + l:j1 + l]) / length
    return slopes


def d8_fdir(dem: np.ndarray, res: float, diag_corrected: bool = False) -> np.ndarray:
    """D8 flow direction (terrain_tools.f90:199-230).

    diag_corrected=False matches calculate_d8_acc (:210-215, the 1.414 is
    commented out); True matches calculate_d8_acc_wipoints (:343-347).
    Returns (nx, ny, 2) int32, 0-based targets (possibly out of grid), -9999
    where undefined.
    """
    nx, ny = dem.shape
    slopes = _slopes_stack(dem, res, UNDEF, diag_corrected)
    mx = slopes.max(axis=0)
    amax = slopes.argmax(axis=0)
    mn = slopes.min(axis=0)
    amn = slopes.argmin(axis=0)
    ki = np.array([p[0] for p in P8], dtype=np.int32)
    kj = np.array([p[1] for p in P8], dtype=np.int32)
    ii = np.arange(nx, dtype=np.int32)[:, None] + np.zeros((1, ny), np.int32)
    jj = np.zeros((nx, 1), np.int32) + np.arange(ny, dtype=np.int32)[None, :]
    fdir = np.full((nx, ny, 2), IUNDEF, dtype=np.int32)
    take_max = mx > 0
    take_min = (~take_max) & (mn == np.float32(UNDEF))
    fdir[take_max, 0] = (ii + ki[amax])[take_max]
    fdir[take_max, 1] = (jj + kj[amax])[take_max]
    fdir[take_min, 0] = (ii + ki[amn])[take_min]
    fdir[take_min, 1] = (jj + kj[amn])[take_min]
    return fdir


def _upstream_counts(fdir: np.ndarray) -> np.ndarray:
    """Subtree size on the fdir forest (terrain_tools.f90:416-441).

    catchment(v) = 1 + sum over u with fdir(u)=v — computed by topological
    peeling (identical integers to the reference's recursion).
    """
    nx, ny, _ = fdir.shape
    n = nx * ny
    tgt = np.full(n, -1, dtype=np.int64)
    fi = fdir[:, :, 0].ravel().astype(np.int64)
    fj = fdir[:, :, 1].ravel().astype(np.int64)
    ok = (fi >= 0) & (fi < nx) & (fj >= 0) & (fj < ny) & (fi != IUNDEF)
    src = np.arange(n)[ok]
    dst = fi[ok] * ny + fj[ok]
    # drop self-loops (cannot occur, but keep the peel safe)
    keep = src != dst
    src, dst = src[keep], dst[keep]
    indeg = np.bincount(dst, minlength=n)
    count = np.ones(n, dtype=np.int64)
    # peel leaves repeatedly (vectorized Kahn; out-degree <= 1)
    has_out = np.zeros(n, dtype=bool)
    has_out[src] = True
    out_dst = np.full(n, -1, dtype=np.int64)
    out_dst[src] = dst
    frontier = np.where((indeg == 0) & has_out)[0]
    while frontier.size:
        d = out_dst[frontier]
        np.add.at(count, d, count[frontier])
        np.subtract.at(indeg, d, 1)
        newly = d[indeg[d] == 0]
        newly = np.unique(newly)
        frontier = newly[has_out[newly]]
    return count.reshape(nx, ny)


def d8_acc(dem: np.ndarray, mask: np.ndarray, res: float):
    """calculate_d8_acc (terrain_tools.f90:171-251): returns (area, fdir)."""
    fdir = d8_fdir(dem, res, diag_corrected=False)
    catchment = _upstream_counts(fdir)
    area = (np.float32(res) ** 2 * catchment.astype(np.float32)).astype(np.float32)
    area[np.asarray(mask) == 0] = np.float32(UNDEF)
    area[fdir[:, :, 0] == IUNDEF] = np.float32(UNDEF)
    return area, fdir


def d8_acc_pfdir(dem: np.ndarray, mask: np.ndarray, res: float, fdir: np.ndarray) -> np.ndarray:
    """calculate_d8_acc_pfdir (terrain_tools.f90:253-301)."""
    catchment = _upstream_counts(fdir)
    area = (np.float32(res) ** 2 * catchment.astype(np.float32)).astype(np.float32)
    area[np.asarray(mask) == 0] = np.float32(UNDEF)
    area[fdir[:, :, 0] == IUNDEF] = np.float32(UNDEF)
    return area


def d8_acc_neighbors(dem: np.ndarray, res: float, variable: np.ndarray) -> np.ndarray:
    """calculate_d8_acc_neighbors (terrain_tools.f90:443-515).

    One-step inflow sum: for each cell, add variable(cell) once per upstream
    neighbor that (a) is strictly higher and (b) flows into it. fdir here is
    computed with slopes initialized to 0 and diagonals corrected (:472-491).
    """
    dem32 = dem.astype(np.float32)
    nx, ny = dem32.shape
    slopes = _slopes_stack(dem32, res, 0.0, diag_corrected=True)
    mx = slopes.max(axis=0)
    amax = slopes.argmax(axis=0)
    ki = np.array([p[0] for p in P8])
    kj = np.array([p[1] for p in P8])
    ii = np.arange(nx)[:, None] + np.zeros((1, ny), int)
    jj = np.zeros((nx, 1), int) + np.arange(ny)[None, :]
    fi = np.where(mx > 0, ii + ki[amax], IUNDEF)
    fj = np.where(mx > 0, jj + kj[amax], IUNDEF)
    var32 = variable.astype(np.float32)
    out = np.zeros((nx, ny), dtype=np.float32)
    for (k, l) in P8:  # neighbor (inew,jnew) = cell + (k,l)
        i0, i1 = max(0, -k), nx - max(0, k)
        j0, j1 = max(0, -l), ny - max(0, l)
        ci = np.arange(i0, i1)[:, None]
        cj = np.arange(j0, j1)[None, :]
        nbr_hi = dem32[i0 + k:i1 + k, j0 + l:j1 + l] > dem32[i0:i1, j0:j1]
        flows = (fi[i0 + k:i1 + k, j0 + l:j1 + l] == ci) & (fj[i0 + k:i1 + k, j0 + l:j1 + l] == cj)
        out[i0:i1, j0:j1] += np.where(nbr_hi & flows, var32[i0:i1, j0:j1], np.float32(0.0))
    return out


def mfd_acc(dem: np.ndarray, res: float, p: float) -> np.ndarray:
    """Freeman MFD accumulation (terrain_tools.f90:517-626).

    catchment(c) = 1 + sum over strictly-higher P8 neighbors n of
    fract(n->c) * catchment(n), fract per fract_flow_mfd (:581-626):
    slope^p normalized over n's strictly-lower neighbors, diagonal lengths
    corrected. Computed in decreasing-dem topological order with additions
    in positions order (matches the recursion's float32 accumulation).
    """
    dem32 = dem.astype(np.float32)
    nx, ny = dem32.shape
    res32 = np.float32(res)
    p32 = np.float32(p)

    # per-cell downhill slope stack (slopes from cell toward lower neighbors)
    down = _slopes_stack(dem32, res, 0.0, diag_corrected=True)
    for pos, (k, l) in enumerate(P8):
        i0, i1 = max(0, -k), nx - max(0, k)
        j0, j1 = max(0, -l), ny - max(0, l)
        lower = dem32[i0:i1, j0:j1] > dem32[i0 + k:i1 + k, j0 + l:j1 + l]
        plane = np.zeros((nx, ny), dtype=bool)
        plane[i0:i1, j0:j1] = lower
        down[pos][~plane] = 0.0
    # sequential float32 accumulation in positions order (fract_flow_mfd:610)
    angle_sum = np.zeros((nx, ny), dtype=np.float32)
    for pos in range(8):
        angle_sum = (angle_sum + down[pos] ** p32).astype(np.float32)

    catchment = np.ones((nx, ny), dtype=np.float32)
    order = np.argsort(-dem32, axis=None, kind="stable")
    oi, oj = np.unravel_index(order, (nx, ny))
    for idx in range(order.size):
        i, j = int(oi[idx]), int(oj[idx])
        acc = catchment[i, j]
        for (k, l) in P8:
            inew, jnew = i + k, j + l
            if inew < 0 or jnew < 0 or inew >= nx or jnew >= ny:
                continue
            if dem32[inew, jnew] > dem32[i, j]:
                if angle_sum[inew, jnew] == 0.0:
                    fract = np.float32(0.0)
                else:
                    kk, ll = i - inew, j - jnew
                    length = DIAG * res32 if (kk + ll) in (-2, 0, 2) else res32
                    slope = (dem32[inew, jnew] - dem32[i, j]) / length
                    fract = slope ** p32 / angle_sum[inew, jnew]
                acc = np.float32(acc + fract * catchment[inew, jnew])
        catchment[i, j] = acc
    return (res32 ** 2 * catchment).astype(np.float32)


# ---------------------------------------------------------------------------
# Channels / basins / hillslopes / HAND
# ---------------------------------------------------------------------------

def _in_grid(i, j, nx, ny):
    return 0 <= i < nx and 0 <= j < ny


def channels_walk_single_seed(area, fdir, cmask, seed, basin_threshold,
                              init_label=0, wprop=False):
    """ONE while-iteration of the channel segmentation: seed + upstream walk
    (terrain_tools.f90:792-821 body + channels_upstream :1172-1241).

    Mutates ``cmask`` (consumed cells -> 0). Returns (labels, topo, n_ids)
    where labels is an int64 grid with LOCAL ids 1..n_ids (``init_label``
    elsewhere — the unset-seed-propagation quirk needs the caller's init
    value), topo maps local cid -> local downstream cid (or -1 at the
    outlet), and n_ids is how much the global hcid counter advances.

    The walk is shared verbatim between the sequential oracle and the
    engine's per-group ``applyInPandas`` kernel: group ids assigned by
    pointer doubling + deterministic seed ordering make the distributed
    composition bit-identical to the sequential loop.

    The traversal runs on an EXPLICIT stack (no Python recursion): a
    10^6-cell channel network would blow any recursion limit, and frame
    objects are far cheaper than interpreter frames. Each stack entry is
    one suspended loop of the Fortran recursion (terrain_tools.f90:
    1172-1241): ``cid`` is passed by reference in the Fortran and
    ``cid_org`` is a local COPY (:1182) that nested confluences (:1224-
    1225) mutate when :1233 passes it down — one-slot lists model each
    variable slot, preserved across suspension, and every cmask test
    re-evaluates on resume exactly where the recursive loop would.
    """
    nx, ny = area.shape
    channels = np.full((nx, ny), init_label, dtype=np.int64)
    topo = {}
    state = {"hcid": 0}
    bt = np.float32(basin_threshold)

    def upstream(i, j):
        out = []
        for (k, l) in P8:
            inew, jnew = i + k, j + l
            if not _in_grid(inew, jnew, nx, ny):
                continue
            if fdir[inew, jnew, 0] == i and fdir[inew, jnew, 1] == j:
                out.append((inew, jnew))
        return out

    def frame(i, j, cid_box):
        # [i, j, cid_box, cid_org_box, nbrs, next_idx, single_branch]
        nbrs = upstream(i, j)
        count = 0
        for (a, b) in nbrs:
            if cmask[a, b] == 1 and area[a, b] >= bt:
                count += 1
        return [i, j, cid_box, [cid_box[0]], nbrs, 0, count <= 1]

    def walk(i, j, cid_box):
        stack = [frame(i, j, cid_box)]
        while stack:
            fr = stack[-1]
            fi_, fj_, cbox, corg, nbrs, idx, single = fr
            if idx >= len(nbrs):
                stack.pop()
                continue
            fr[5] = idx + 1
            inew, jnew = nbrs[idx]
            if cmask[inew, jnew] != 1:
                continue
            if single:
                cmask[inew, jnew] = 0
                channels[inew, jnew] = channels[fi_, fj_]
                stack.append(frame(inew, jnew, cbox))
            elif area[inew, jnew] >= bt:
                state["hcid"] += 1
                cbox[0] = state["hcid"]
                cmask[inew, jnew] = 0
                channels[inew, jnew] = cbox[0]
                if wprop:
                    topo[cbox[0]] = corg[0]
                stack.append(frame(inew, jnew, cbox))
            else:
                cmask[inew, jnew] = 0
                channels[inew, jnew] = corg[0]
                stack.append(frame(inew, jnew, corg))

    state["hcid"] += 1
    cid = state["hcid"]
    i, j = seed
    if cmask[i, j] == 1 and area[i, j] >= bt:
        channels[i, j] = cid
        if wprop:
            topo[cid] = -1
    cmask[i, j] = 0
    walk(i, j, [cid])
    return channels, topo, state["hcid"]


def _channels_loop(area_in, threshold, basin_threshold, fdir, mask=None, wprop=False):
    """Sequential driver of calculate_channels / _wocean / _wocean_wprop
    (terrain_tools.f90:748-823, 1069-1170, 878-992): seed at the remaining
    max-area cell (column-major maxloc ties), walk, repeat; local walk ids
    merge through a running hcid offset."""
    nx, ny = area_in.shape
    area = area_in.astype(np.float32).copy()
    cmask = (area > np.float32(threshold)).astype(np.int32)
    init_label = IUNDEF if mask is None else 0
    channels = np.full((nx, ny), init_label, dtype=np.int64)
    topo = {}
    hcid = 0

    done = False
    while not done:
        if cmask.max() == 0:
            done = True
        area[cmask == 0] = 0.0
        seed = _argmax2d_fortran(area)
        labels, ltopo, n_ids = channels_walk_single_seed(
            area, fdir, cmask, seed, basin_threshold,
            init_label=init_label, wprop=wprop)
        got = labels != init_label
        channels[got] = np.where(labels[got] > 0, labels[got] + hcid, labels[got])
        for lc, ld in ltopo.items():
            topo[lc + hcid] = ld if ld == -1 else ld + hcid
        hcid += n_ids
    return channels, topo, hcid


def calculate_channels(area, threshold, basin_threshold, fdir) -> np.ndarray:
    """terrain_tools.f90:748-823 (channels init to -9999)."""
    channels, _, _ = _channels_loop(area, threshold, basin_threshold, fdir, mask=None)
    return channels


def _ocean_boundary(channels: np.ndarray, mask: np.ndarray):
    """Ocean/land boundary pseudo-channels, ids 999999+ in row-major scan
    order over non-land cells (terrain_tools.f90:961-980 / 1144-1163).
    NOTE the Fortran increments cid for EVERY non-land cell, labeled or not
    (:977 is outside the if)."""
    nx, ny = channels.shape
    cid = 999999
    m = np.asarray(mask)
    for i in range(nx):
        for j in range(ny):
            if m[i, j] == 0.0:
                i0, i1 = max(i - 1, 0), min(i + 1, nx - 1)
                j0, j1 = max(j - 1, 0), min(j + 1, ny - 1)
                if m[i0:i1 + 1, j0:j1 + 1].max() > 0:
                    channels[i, j] = cid
                cid += 1
    return channels


def calculate_channels_wocean_wprop(area, threshold, basin_threshold, fdir, mask):
    """terrain_tools.f90:878-992. Returns (channels, channels_wob, topology).

    topology[cid] = downstream segment id, -1 at outlets (:948, 1051);
    returned as a dense int32 array indexed by cid-1 like the reference's
    ``channel_topology(nx*ny)`` (but trimmed to max cid).
    """
    channels, topo, hcid = _channels_loop(area, threshold, basin_threshold, fdir,
                                          mask=mask, wprop=True)
    channels_wob = channels.copy()
    channels = _ocean_boundary(channels, mask)
    m = np.asarray(mask)
    channels[(m == 0) & (channels == 0)] = IUNDEF
    channels_wob[(m == 0) & (channels_wob == 0)] = IUNDEF
    ncid = max([hcid] + list(topo.keys()) + [0])
    topology = np.full(max(ncid, 1), IUNDEF, dtype=np.int64)
    for cid, down in topo.items():
        topology[cid - 1] = down
    return channels, channels_wob, topology


def delineate_basins(channels: np.ndarray, mask: np.ndarray, fdir: np.ndarray) -> np.ndarray:
    """terrain_tools.f90:1243-1293: chase fdir downstream to a labeled cell.

    Iterative port of determine_basin_id incl. its quirks: a chain ending at
    an invalid fdir or mask==0 cell is labeled 0 (not -9999).
    """
    nx, ny = channels.shape
    basins = channels.astype(np.int64).copy()
    m = np.asarray(mask)
    for i0 in range(nx):
        for j0 in range(ny):
            if basins[i0, j0] == 0 and m[i0, j0] >= 1:
                path = []
                i, j = i0, j0
                label = 0
                while True:
                    inew, jnew = int(fdir[i, j, 0]), int(fdir[i, j, 1])
                    if not _in_grid(inew, jnew, nx, ny):
                        break  # label stays 0; current cell NOT labeled (Fortran returns before set)
                    if m[i, j] == 0:
                        break
                    path.append((i, j))
                    if basins[inew, jnew] > 0:
                        label = basins[inew, jnew]
                        break
                    if basins[inew, jnew] != 0:
                        # undef (-9999) downstream: recursion continues through it
                        i, j = inew, jnew
                        continue
                    i, j = inew, jnew
                for (pi, pj) in path:
                    basins[pi, pj] = label
    return basins


def calculate_depth2channel(channels, mask, fdir, dem, leak: bool = True):
    """HAND (terrain_tools.f90:1652-1725).

    ``leak=True`` is the faithful port including the reference's cd
    carry-over quirk: ``cd`` persists across top-level cells (:1679), so a
    chain that dead-ends (invalid fdir / mask-0 before any channel) inherits
    the PREVIOUS chain's channel depth — a scan-order dependence — and cells
    never assigned at all yield ``dem + 9999``. ``leak=False`` is the
    engine's sanitized semantics (the golden used for Spark parity): chains
    resolving at a positive channel elevation are identical to the
    reference; dead-end chains and never-assigned cells yield -9999.
    """
    nx, ny = dem.shape
    dem32 = dem.astype(np.float32)
    undef = np.float32(UNDEF)
    m = np.asarray(mask)
    cdep = dem32.copy()
    cdep[cdep < 0] = 0.0
    cdep[(m <= 0) | (np.asarray(channels) <= 0)] = undef
    unresolved = np.zeros((nx, ny), dtype=bool)
    cd = np.float32(0.0)
    for i0 in range(nx):
        for j0 in range(ny):
            if cdep[i0, j0] == undef and m[i0, j0] >= 1 and not unresolved[i0, j0]:
                stack = []
                i, j = i0, j0
                dead = False
                while True:
                    inew, jnew = int(fdir[i, j, 0]), int(fdir[i, j, 1])
                    if not _in_grid(inew, jnew, nx, ny):
                        dead = True
                        break  # cd unchanged (leak)
                    if m[i, j] == 0:
                        dead = True
                        break
                    stack.append((i, j))
                    if cdep[inew, jnew] > 0:
                        cd = cdep[inew, jnew]
                        break
                    if not leak and unresolved[inew, jnew]:
                        dead = True
                        break
                    i, j = inew, jnew
                if leak or not dead:
                    for (pi, pj) in stack:
                        cdep[pi, pj] = cd
                else:
                    for (pi, pj) in stack:
                        unresolved[pi, pj] = True
    d2c = dem32 - cdep
    d2c[d2c < 0] = undef
    d2c[m <= 0] = undef
    if not leak:
        d2c[cdep == undef] = undef
    return d2c


def cleanup_hillslopes(h: np.ndarray) -> np.ndarray:
    """Dense relabel of positive ids to 0..K-1 by ascending id
    (terrain_tools.f90:1604-1650). Returns a new array."""
    out = h.copy()
    pos = out > 0
    if not pos.any():
        return out
    ids = np.unique(out[pos])
    mapping = {int(v): n for n, v in enumerate(ids)}
    out[pos] = np.vectorize(mapping.get, otypes=[np.int64])(out[pos])
    return out


def hillslopes_walk_single_seed(channels, fdir, mask, seed):
    """ONE seed's hillslope walk (terrain_tools.f90:1337-1575).

    Returns (labels, visited, n_ids): labels int64 grid, LOCAL ids 1.. with
    0 = untouched (the walk never writes 0); visited = bool grid of cells
    whose area the walk consumed (area(...)=-9999 writes); n_ids = how far
    the global hillslope_id counter advanced. Shared verbatim between the
    sequential oracle and the engine's per-group applyInPandas kernel.
    """
    sys.setrecursionlimit(max(sys.getrecursionlimit(), 10 ** 6))
    ch = np.asarray(channels)
    nx, ny = ch.shape
    m = np.asarray(mask)
    labels = np.zeros((nx, ny), dtype=np.int64)
    visited = np.zeros((nx, ny), dtype=bool)
    state = {"hid": 0}  # global starts at 1; local ids are offsets from start-1

    def flows_into(inew, jnew, i, j):
        if not _in_grid(inew, jnew, nx, ny):
            return False
        return fdir[inew, jnew, 0] == i and fdir[inew, jnew, 1] == j

    def define_id(i, j):
        # terrain_tools.f90:1551-1575
        if m[i, j] == 0:
            return
        labels[i, j] = state["hid"] + 1  # +1: local ids 1-based at hid==0
        visited[i, j] = True
        for (k, l) in P8_CLOCK:
            inew, jnew = i + k, j + l
            if flows_into(inew, jnew, i, j):
                define_id(inew, jnew)

    def move_upstream(i, j, iold, jold):
        # terrain_tools.f90:1436-1549
        ipos_old = -1
        visited[iold, jold] = True
        for pos, (k, l) in enumerate(P8_CLOCK):
            if i + k == iold and j + l == jold:
                ipos_old = pos
        channel_count = 0
        for (k, l) in P8_CLOCK:
            inew, jnew = i + k, j + l
            if flows_into(inew, jnew, i, j) and ch[inew, jnew] > 0:
                channel_count += 1
        start = ipos_old if ipos_old >= 0 else 0
        sweep = list(range(start, 8)) + list(range(0, max(ipos_old, 0)))
        for pos in sweep:
            k, l = P8_CLOCK[pos]
            inew, jnew = i + k, j + l
            if not flows_into(inew, jnew, i, j):
                continue
            if ch[inew, jnew] > 0:
                if channel_count > 1:
                    state["hid"] += 1
                move_upstream(inew, jnew, i, j)
                if channel_count > 1:
                    state["hid"] += 1
            else:
                define_id(inew, jnew)
        if channel_count == 0:
            state["hid"] += 1
            for (k, l) in P8_CLOCK:
                inew, jnew = i + k, j + l
                if flows_into(inew, jnew, i, j):
                    define_id(inew, jnew)
            state["hid"] += 1
        visited[i, j] = True

    def catchment_seed(i, j):
        # terrain_tools.f90:1337-1434. QUIRK: ipos_old is located in the
        # STANDARD position order (:1376-1384, before :1387-1395 redefines
        # positions clockwise) but then indexes the CLOCKWISE array (:1398).
        iold, jold = int(fdir[i, j, 0]), int(fdir[i, j, 1])
        ipos_old = -1
        for pos, (k, l) in enumerate(P8):
            if i + k == iold and j + l == jold:
                ipos_old = pos
        start = ipos_old if ipos_old >= 0 else 0
        sweep = list(range(start, 8)) + list(range(0, max(ipos_old, 0)))
        for pos in sweep:
            k, l = P8_CLOCK[pos]
            inew, jnew = i + k, j + l
            if not flows_into(inew, jnew, i, j):
                continue
            if ch[inew, jnew] > 0:
                move_upstream(inew, jnew, i, j)
            else:
                define_id(inew, jnew)

    catchment_seed(*seed)
    return labels, visited, state["hid"]


def delineate_hillslopes(channels, area_in, fdir, mask):
    """terrain_tools.f90:1295-1575 — sequential driver over seeds.

    Seeds at the remaining max-area cell (column-major ties); each seed's
    walk uses :func:`hillslopes_walk_single_seed`; local ids merge through
    the running hillslope_id offset. Ends with cleanup_hillslopes (ids
    0..K-1, unlabeled land stays 0, non-land / channel cells -9999). See
    oracle/__init__ for the documented OOB-guard deviations.
    """
    ch = np.asarray(channels)
    nx, ny = ch.shape
    m = np.asarray(mask)
    area = area_in.astype(np.float32).copy()
    hillslopes = np.zeros((nx, ny), dtype=np.int64)
    hillslopes[(m <= 0) | (ch > 0)] = IUNDEF
    hid_offset = 0  # global hid starts at 1 == local 1 + 0

    while True:
        maxarea = area.max()
        if maxarea == np.float32(UNDEF):
            break
        seed = _argmax2d_fortran(area)
        labels, visited, n_ids = hillslopes_walk_single_seed(ch, fdir, m, seed)
        got = labels > 0
        hillslopes[got] = labels[got] + hid_offset
        area[visited] = np.float32(UNDEF)
        area[seed] = np.float32(UNDEF)
        hid_offset += n_ids
    return cleanup_hillslopes(hillslopes)


# ---------------------------------------------------------------------------
# Polygonize / misc
# ---------------------------------------------------------------------------

def polygonize(data: np.ndarray) -> np.ndarray:
    """4-connected flood-fill polygonization (terrain_tools.f90:1750-1789):
    each same-value connected region gets a sequential id (0, 1, ...) in
    i-outer scan order. Iterative BFS preserves the labeling order."""
    din = np.asarray(data, dtype=np.float64).copy()
    nx, ny = din.shape
    dout = np.full((nx, ny), UNDEF, dtype=np.float64)
    pid = -1
    for i in range(nx):
        for j in range(ny):
            if din[i, j] != UNDEF:
                cid = din[i, j]
                pid += 1
                stack = [(i, j)]
                while stack:
                    x, y = stack.pop()
                    if din[x, y] != cid:
                        continue
                    din[x, y] = UNDEF
                    dout[x, y] = pid
                    if x > 0:
                        stack.append((x - 1, y))
                    if x < nx - 1:
                        stack.append((x + 1, y))
                    if y > 0:
                        stack.append((x, y - 1))
                    if y < ny - 1:
                        stack.append((x, y + 1))
    return dout


def gap_fill_hrus(hrus_in: np.ndarray, channels: np.ndarray) -> np.ndarray:
    """Mode of the 3x3 neighborhood on channel cells
    (terrain_tools.f90:825-876). Tie-break: first id encountered in the
    ii/jj scan (hru_id insertion order), maxloc-first semantics."""
    nx, ny = hrus_in.shape
    out = hrus_in.copy()
    ch = np.asarray(channels)
    for i in range(nx):
        for j in range(ny):
            if 0 < ch[i, j] < 999999:
                i0, i1 = max(i - 1, 0), min(i + 1, nx - 1)
                j0, j1 = max(j - 1, 0), min(j + 1, ny - 1)
                ids, counts = [], []
                for ii in range(i0, i1 + 1):
                    for jj in range(j0, j1 + 1):
                        hru = hrus_in[ii, jj]
                        if hru == IUNDEF:
                            continue
                        if hru in ids:
                            counts[ids.index(hru)] += 1
                        else:
                            ids.append(hru)
                            counts.append(1)
                if ids:
                    out[i, j] = ids[int(np.argmax(counts))]
                else:
                    out[i, j] = IUNDEF  # all-undef neighborhood: hru_id(1) = -9999
    return out


def assign_clusters(zones: np.ndarray, clusters: np.ndarray) -> np.ndarray:
    """terrain_tools.f90:1727-1748: new = clusters[zone] (1-based lookup)."""
    out = np.full(zones.shape, IUNDEF, dtype=np.int64)
    ok = zones != IUNDEF
    out[ok] = np.asarray(clusters)[zones[ok].astype(np.int64)]
    return out


def transform_arcgis_fdir(codes: np.ndarray) -> np.ndarray:
    """ArcGIS power-of-two codes -> (i, j) pointers, 0-based
    (terrain_tools.py:1666-1697)."""
    lut = {1: (0, 1), 2: (1, 1), 4: (1, 0), 8: (1, -1),
           16: (0, -1), 32: (-1, -1), 64: (-1, 0), 128: (-1, 1)}
    nx, ny = codes.shape
    fdir = np.full((nx, ny, 2), IUNDEF, dtype=np.int32)
    for code, (di, dj) in lut.items():
        mloc = codes == code
        ii, jj = np.where(mloc)
        fdir[ii, jj, 0] = ii + di
        fdir[ii, jj, 1] = jj + dj
    return fdir


def time_average(series: np.ndarray, nt_out: int) -> np.ndarray:
    """Block mean (upscaling_tools.f90:1-13): dt = nt_in // nt_out."""
    nt_in = series.size
    dt = nt_in // nt_out
    return series[: nt_out * dt].reshape(nt_out, dt).sum(axis=1) / dt


def depth2channel_mfd(channels: np.ndarray, mask: np.ndarray, dem: np.ndarray,
                      res: float, p: int = 1) -> np.ndarray:
    """calculate_depth2channel_mfd (terrain_tools.f90:628-746).

    channeldepth(c) = sum over strictly-lower masked neighbors n of
    fract(c->n) * channeldepth(n), fract = slope^p / sum(slopes^p) over c's
    downhill masked neighbors (determine_channel_depth_mfd :690-745);
    channel cells carry clamp(dem, >=0) (:655-662). Resolved in ascending-dem
    order (the recursion resolves downhill first), float32 additions in
    positions order. HAND = dem - channeldepth; negatives and mask<=0 ->
    -9999 (:675-686).
    """
    dem32 = dem.astype(np.float32)
    res32 = np.float32(res)
    nx, ny = dem32.shape
    undef = np.float32(UNDEF)
    cd = dem32.copy()
    cd[cd < 0] = 0.0
    cd[(mask <= 0) | (channels <= 0)] = undef

    order = np.argsort(dem32, axis=None, kind="stable")
    oi, oj = np.unravel_index(order, (nx, ny))
    for idx in range(order.size):
        i, j = int(oi[idx]), int(oj[idx])
        if cd[i, j] != undef or mask[i, j] < 1:
            continue
        slopes = np.zeros(8, dtype=np.float32)
        for pos, (k, l) in enumerate(P8):
            inew, jnew = i + k, j + l
            if not _in_grid(inew, jnew, nx, ny) or mask[inew, jnew] == 0:
                continue
            if dem32[i, j] > dem32[inew, jnew]:
                length = np.float32(DIAG) * res32 if (k + l) in (-2, 0, 2) else res32
                slopes[pos] = (dem32[i, j] - dem32[inew, jnew]) / length
        angle_sum = np.float32(0.0)
        for pos in range(8):
            angle_sum = np.float32(angle_sum + slopes[pos] ** np.float32(p))
        acc = undef
        for pos, (k, l) in enumerate(P8):
            inew, jnew = i + k, j + l
            if not _in_grid(inew, jnew, nx, ny):
                continue
            if slopes[pos] == 0.0 or mask[inew, jnew] == 0:
                continue
            fract = slopes[pos] ** np.float32(p) / angle_sum
            nb = cd[inew, jnew]
            # ascending order guarantees strictly-lower neighbors resolved;
            # unresolved (still undef) neighbors contribute undef like the
            # reference's cd carry
            if acc == undef:
                acc = np.float32(0.0)
            acc = np.float32(acc + fract * nb)
        cd[i, j] = acc
    d2c = (dem32 - cd).astype(np.float32)
    d2c[d2c < 0] = undef
    d2c[mask <= 0] = undef
    return d2c


def create_nd_histogram(hillslopes: np.ndarray, covariates: list) -> np.ndarray:
    """N-D histogram HRU builder (terrain_tools.py:789-859, verbatim
    semantics with the covariate ORDER made explicit).

    ``covariates`` is an ordered list of dicts ``{name, data, nbins, type}``
    (the reference iterates a py2 dict; order here is the list order). Per
    ascending hillslope id: 'p'-type covariates are percentile-transformed
    IN PLACE over the hillslope's valid cells (``tmp[argsort] =
    np.linspace(0, 1, n)``), an ``np.histogramdd`` over (nbins per var) is
    taken, and every NON-EMPTY bin gets the next GLOBAL cluster id in
    C-order flat scan of the histogram. Cells are mapped back through the
    inclusive bin bounds with ascending-id overwrite — which resolves
    exact-edge cells to the upper bin, i.e. their own histogramdd bin.
    Finally ``cleanup_hillslopes`` (dense relabel, identity when ids are
    already dense) and the reference's +1 yield ids 1..K, -9999 elsewhere.
    """
    undef = UNDEF
    m = hillslopes != undef
    for cov in covariates:
        m = m & (cov["data"] != undef)

    icluster = -1
    hrus = np.empty(covariates[0]["data"].shape, dtype=np.float32)
    hrus[:] = IUNDEF

    uh = np.unique(hillslopes)
    uh = uh[uh != undef]
    for ih in uh:
        mask = (hillslopes == ih) & m

        bins, data = [], []
        for cov in covariates:
            bins.append(cov["nbins"])
            if cov["type"] == "p":
                tmp = np.copy(cov["data"][mask])
                argsort = np.argsort(tmp)
                tmp[argsort] = np.linspace(0, 1, tmp.size)
                cov["data"][mask] = tmp
            else:
                tmp = np.copy(cov["data"][mask])
            data.append(tmp)
        H, edges = np.histogramdd(np.array(data).T, bins=np.array(bins))
        H = H / np.sum(H)

        clusters = {}
        it = np.nditer(H, flags=["multi_index"], order="C")
        for val in it:
            coords = it.multi_index
            if val > 0:
                icluster += 1
                clusters[icluster] = {
                    "bounds": [(edges[k][coords[k]], edges[k][coords[k] + 1])
                               for k in range(len(covariates))]}

        for cid in sorted(clusters.keys()):
            sel = mask.copy()
            for k, cov in enumerate(covariates):
                lo, hi = clusters[cid]["bounds"][k]
                sel &= (cov["data"] >= lo) & (cov["data"] <= hi)
            hrus[sel] = cid + 1

    out = hrus.astype(np.int32)
    out = cleanup_hillslopes(out)
    out[out >= 0] += 1
    return out

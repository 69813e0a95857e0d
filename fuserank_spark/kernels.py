"""Arrow vector kernels: the pieces every mapInArrow scan over a vector
column shares — one flat-buffer matrix read, one half-away-from-zero
rounding, one IVF cell assignment, one IVF probe selection and one
partition-local top-k (the per-partition top-k plus global merge of
REPOSE, ICDE 2021) — and the one driver-side Lloyd trainer built on
that cell assignment.

One NULL/ragged contract for every kernel: a NULL vector row, a NULL
element inside a vector, or a vector whose width is not the expected
``dim`` raises ``ValueError`` naming the column. A batch matmul cannot
carry a NULL through — it would surface as NaN, and NaN scores argmin
to cell 0 or fall out of a partition threshold — so the scans fail
loudly instead (tests/test_kernels.py pins this for every kernel).
"""

from __future__ import annotations

import numpy as np


def read_matrix(rb, col: str, dim: int, dim_source: str | None = None) -> np.ndarray:
    """The ``(num_rows, dim)`` float64 matrix of list column ``col`` of
    one Arrow RecordBatch, read as ONE flat values buffer — no per-row
    Python objects (the former mapInPandas scans spent ~790 ms per
    batch in ``np.stack`` over object lists against a 2.4 ms matmul).

    ``dim_source`` names where ``dim`` came from (the query side of a
    scan): when every row of the batch has one width other than
    ``dim``, the error names it beside ``col``, since a uniform
    mismatch is the query's as often as the column's."""
    arr = rb.column(col)
    flat = arr.flatten()  # honours slice offsets; NULL rows add no values
    if arr.null_count or flat.null_count:
        raise ValueError(f"NULL vector in column {col!r} (row or element); filter them first")
    # ListArray: every row must be exactly dim wide before the flat
    # reshape (FixedSizeList has no offsets; the size check covers it)
    if hasattr(arr, "offsets"):
        widths = np.diff(arr.offsets.to_numpy())
        if widths.size and not (widths == dim).all():
            if dim_source is not None and (widths == widths[0]).all():
                raise ValueError(
                    f"{dim_source} is {dim}-dim, but every vector of column {col!r} "
                    f"in this batch is {int(widths[0])}-dim"
                )
            raise ValueError(
                f"vector length != {dim} in column {col!r}: widths {sorted(set(widths.tolist()))}"
            )
    vals = flat.to_numpy(zero_copy_only=False)
    if vals.size != rb.num_rows * dim:
        raise ValueError(
            f"vector length != {dim} in column {col!r}: "
            f"{vals.size} values for {rb.num_rows} rows"
        )
    return np.asarray(vals, dtype="float64").reshape(rb.num_rows, dim)


def round_half_away(x, digits: int = 6):
    """Decimal rounding HALF AWAY FROM ZERO on a scalar or an ndarray,
    matching Spark/DuckDB ``round()`` — NOT Python ``round()`` or
    ``np.round``, which round half to even. Used wherever a numpy score
    must share a tie-break domain with engine-rounded scores.

    The formula rounds the binary double while Spark rounds its
    shortest decimal representation, so the two differ only when that
    decimal lands exactly on a half-boundary — measure-zero for
    dot-product scores, the repo's accepted caveat."""
    p = 10.0 ** int(digits)
    return np.copysign(np.floor(np.abs(x) * p + 0.5), x) / p


def assign_cells(M: np.ndarray, cents: np.ndarray, metric: str, digits: int | None) -> np.ndarray:
    """IVF cell of every row of ``M`` with one batch matmul: argmin of
    ``||c||² − 2⟨x,c⟩`` (``"l2"``) or of ``−⟨x,c⟩`` (``"ip"``), rounded
    half-away at ``digits`` first when given (callers validate
    ``metric``). ``argmin`` takes the FIRST minimum — the lowest-cell
    tie-break of simsearch.ivf_assign's struct-min."""
    D = M @ cents.T
    D = np.einsum("kd,kd->k", cents, cents)[None, :] - 2.0 * D if metric == "l2" else -D
    if digits is not None:
        D = round_half_away(D, digits)
    return D.argmin(axis=1)


def lloyd(x: np.ndarray, k: int, iters: int, rng: np.random.Generator) -> np.ndarray:
    """The ``(k, dim)`` centroids of ``iters`` Lloyd k-means iterations
    over the rows of ``x``: the one non-portable trainer behind IVF
    (simsearch.ivf_build) and PQ (quantization.train_pq) training.

    Init draws ``k`` distinct rows with ``rng.choice`` — ``rng`` is a
    Generator, not a seed, so train_pq keeps one stream across its
    subspaces. Each iteration assigns with :func:`assign_cells` (the
    argmin the Arrow scans serve with) and moves every centroid to its
    members' mean. Empty-cluster repair: clusters that lose all
    members are re-seeded to DISTINCT rows, in decreasing order of
    distance to their own centroid (deterministic, no RNG in the
    loop); simultaneously-empty clusters never collapse onto one row.
    Driver memory is about ``n × (dim + k)`` doubles."""
    cents = x[rng.choice(x.shape[0], size=k, replace=False)].copy()
    for _ in range(iters):
        assign = assign_cells(x, cents, "l2", None)
        own = ((x - cents[assign]) ** 2).sum(axis=1)
        far_order = np.argsort(-own, kind="stable")
        next_far = 0
        for c in range(k):
            mask = assign == c
            if mask.any():
                cents[c] = x[mask].mean(axis=0)
            else:
                cents[c] = x[far_order[next_far]]
                next_far += 1
    return cents


def probe_cells(cents, qvec, nprobe: int) -> list[int]:
    """The ``nprobe`` IVF cells a query scans: highest inner product of
    ``qvec`` with each centroid, rounded half-away at 6 digits (the
    tie-break domain of a SQL twin's ``round(…, 6)`` probe ranking),
    ties to the lowest cell id (a stable argsort). The one probe
    selection of every IVF serve — the fused-IVF paths pass raw fused
    vectors (IP cells); the cosine serves pass unit-normalized
    centroids and query (simsearch._probe_join)."""
    ips = round_half_away(np.asarray(cents, dtype="float64") @ np.asarray(qvec, dtype="float64"))
    return [int(c) for c in np.argsort(-ips, kind="stable")[:nprobe]]


def partition_topk(
    batches, score, qids, k: int, key_col: str, query_col: str, score_col: str,
    payload: list[str], digits: int | None = None,
):
    """Exact top-``k`` of every query over one task's Arrow batches,
    emitted as ONE RecordBatch ``(key_col, query_col, score_col,
    *payload)``: each survivor carries its own row's ``payload``
    columns, so no caller joins the hits back to the corpus.

    ``score(rb)`` maps a non-empty batch to ``(rows, S)`` — ``rows``
    the positions in ``rb`` of the scored rows (None: every row) and
    ``S`` their raw ``(Q, len(rows))`` score matrix, one row per query
    in ``qids`` order — or to None when the batch keeps no rows. Rows
    order by (score rounded half-away at ``digits``, desc; key, asc):
    rounding before the cut lets ulp-tied rows fall to the key
    tie-break, as in the caller's final ``F.round`` ordering. On unique
    keys that order is total, so each batch's cut folds into the
    running top-k at once. The rows any query keeps are taken out of
    their batch (Arrow ``take``) as it folds and re-taken down to the
    live ones, so the state stays ``Q·k`` rows whatever the batch
    count. Emitted scores stay raw."""
    import pyarrow as pa

    def cut(keys: np.ndarray, rk: np.ndarray) -> np.ndarray:
        # for n >> k keep everything >= the k-th largest rank key (>=
        # keeps boundary ties for the key tie-break) and lexsort only
        # that slice: same selection, O(n) + a tiny sort
        n = rk.shape[0]
        if n > 4 * k:
            m = rk >= np.partition(rk, n - k)[n - k]
            return np.flatnonzero(m)[np.lexsort((keys[m], -rk[m]))[:k]]
        return np.lexsort((keys, -rk))[:k]

    cols = [key_col, *payload]
    # per query (keys, scores, rank keys, positions in `kept`)
    best: list[tuple | None] = [None] * len(qids)
    kept = None  # pa.Table of `cols`: every row some query keeps
    for rb in batches:
        if rb.num_rows == 0:
            continue
        got = score(rb)
        if got is None:
            continue
        rows, S = got
        keys = rb.column(key_col).to_numpy(zero_copy_only=False)
        if rows is not None:
            keys = keys[rows]
        RK = S if digits is None else round_half_away(S, digits)  # one pass over all queries
        sels = [cut(keys, RK[j]) for j in range(len(qids))]
        new = np.unique(np.concatenate(sels))
        taken = pa.Table.from_batches([rb.select(cols).take(new if rows is None else rows[new])])
        base = 0 if kept is None else kept.num_rows
        for j, sel in enumerate(sels):
            part = (keys[sel], S[j, sel], RK[j, sel], base + np.searchsorted(new, sel))
            if best[j] is not None:
                part = tuple(np.concatenate(p) for p in zip(best[j], part))
                part = tuple(p[cut(part[0], part[2])] for p in part)
            best[j] = part
        if kept is None:
            kept = taken
            continue
        live = np.unique(np.concatenate([b[3] for b in best if b is not None]))
        kept = pa.concat_tables([kept, taken]).take(live)
        best = [None if b is None else (*b[:3], np.searchsorted(live, b[3])) for b in best]
    have = [(q, b) for q, b in zip(qids, best) if b is not None]
    if not have:
        return
    out = kept.take(np.concatenate([b[3] for _, b in have])).combine_chunks()
    yield pa.RecordBatch.from_arrays(
        [
            out.column(key_col).chunk(0),
            pa.array(np.repeat([int(q) for q, _ in have], [len(b[0]) for _, b in have]), type=pa.int64()),
            pa.array(np.concatenate([b[1] for _, b in have]), type=pa.float64()),
            *(out.column(c).chunk(0) for c in payload),
        ],
        names=[key_col, query_col, score_col, *payload],
    )

"""Vector serving: persisted embeddings + JVM-free cosine top-k and
hybrid (BM25 + vector) Reciprocal Rank Fusion on the serving path.

Completes the hybrid-retrieval story: q45's distributed kernel
(``similarity.cosine_topk`` + ``similarity.rrf_fuse``) gets a serving
twin a LocalSearcher can answer at query-service latency — exact
brute-force cosine over an in-memory float64 matrix (the baseline ANN
arm; LSH/IVF stay the distributed scale path in
``operators/similarity.py``), fused with the BM25 arm by the same RRF
arithmetic (1/(k+rank), missing arm contributes 0, ties on id).

Float discipline matches the distributed module: cosine is rounded to
6 dp BEFORE ranking with an id tie-break, so sub-1e-6 jitter can never
flip an order; RRF ranks are integers so the fusion is exact.

This module is numpy/pyarrow-only below ``write_vectors`` (the writer
is the only Spark-touching function), mirroring ``plans/serve.py``'s
JVM-free rule for forked shard workers.
"""

from __future__ import annotations

import glob

import numpy as np


def write_vectors(
    embeddings,
    root: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ivf_cells: int | None = None,
    ivf_iters: int = 2,
) -> int:
    """Persist an embeddings DataFrame under ``{root}/vectors`` for
    serving. With ``ivf_cells`` set, also trains the IVF coarse
    quantizer (``similarity.train_ivf_centroids`` — Lloyd iterations
    as pure DataFrame jobs) and persists the centroids under
    ``{root}/vectors_centroids``; the reader then serves the FAISS
    IVF-flat shape (probe the nearest n_probe cells only). Returns
    the row count."""
    from pyspark.sql import functions as F

    from golr_loader_spark.plans.build_index import _writer

    out = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    )
    _writer(out).parquet(f"{root}/vectors")
    if ivf_cells:
        from golr_loader_spark.operators.similarity import train_ivf_centroids

        cents = train_ivf_centroids(
            embeddings, n_cells=ivf_cells, n_iters=ivf_iters,
            id_col=id_col, vec_col=vec_col,
        ).select(
            F.col("cell").cast("long").alias("cell"),
            F.col("cvec").cast("array<double>").alias("cvec"),
        )
        _writer(cents).parquet(f"{root}/vectors_centroids")
    return out.count()


class VectorReader:
    """mmap-friendly reader over ``{root}/vectors``: ids (int64) and a
    row-major float64 matrix, normalized once at load so a query is
    one matvec + argpartition."""

    def __init__(self, root: str):
        import pyarrow.parquet as pq

        files = sorted(glob.glob(f"{root}/vectors/*.parquet"))
        if not files:
            raise FileNotFoundError(f"no vectors table under {root}/vectors")
        ids, mats = [], []
        for f in files:
            t = pq.read_table(f, columns=["vec_id", "embedding"])
            n = len(t)
            if n == 0:
                # Spark routinely writes empty part files (and
                # shard_index's repartitionByRange makes them near-
                # certain): a (0, 0) reshape would break the vstack
                # below, so zero-row files are skipped outright
                continue
            ids.append(t.column("vec_id").to_numpy())
            emb = t.column("embedding")
            flat = emb.combine_chunks().flatten().to_numpy()
            mats.append(flat.reshape(n, -1))
        if not mats:
            self.ids = np.empty(0, dtype=np.int64)
            self.mat = np.empty((0, 0), dtype=np.float64)
        else:
            self.ids = np.concatenate(ids)
            self.mat = np.ascontiguousarray(np.vstack(mats), dtype=np.float64)
        norms = np.linalg.norm(self.mat, axis=1)
        norms[norms == 0] = 1.0
        self._unit = self.mat / norms[:, None]
        # IVF coarse quantizer (optional): centroids persisted by
        # write_vectors(ivf_cells=...); cell assignment is computed
        # once at load (one matmul) with the module's round-6 +
        # lowest-cell-id tie discipline
        self._cells = None
        cfiles = sorted(glob.glob(f"{root}/vectors_centroids/*.parquet"))
        if cfiles:
            import pyarrow.parquet as pq2

            cids, cvecs = [], []
            for f in cfiles:
                t = pq2.read_table(f, columns=["cell", "cvec"])
                n = len(t)
                if n == 0:  # same zero-row-part guard as the vectors loop
                    continue
                cids.append(t.column("cell").to_numpy())
                flat = t.column("cvec").combine_chunks().flatten().to_numpy()
                cvecs.append(flat.reshape(n, -1))
            if not cvecs or not len(self.ids):
                return  # all-empty centroid parts / empty shard: no quantizer
            cell_ids = np.concatenate(cids)
            cmat = np.ascontiguousarray(np.vstack(cvecs), dtype=np.float64)
            cn = np.linalg.norm(cmat, axis=1)
            cn[cn == 0] = 1.0
            cunit = cmat / cn[:, None]
            # order centroids by cell id so argmax ties resolve to the
            # LOWEST cell id (the distributed op's lexicographic min)
            order = np.argsort(cell_ids, kind="stable")
            self._cell_ids = cell_ids[order]
            self._cunit = cunit[order]
            sims = np.round(self._unit @ self._cunit.T, 6)
            assign = np.argmax(sims, axis=1)  # first max = lowest cell
            # bucket rows by assigned cell for contiguous probe slices
            self._cell_order = np.argsort(assign, kind="stable")
            sorted_assign = assign[self._cell_order]
            self._cell_bounds = np.searchsorted(
                sorted_assign, np.arange(len(self._cell_ids) + 1)
            )
            self._cells = len(self._cell_ids)

    def topk(
        self,
        qvec,
        k: int = 10,
        exclude_id: int | None = None,
        n_probe: int | None = None,
    ) -> list[tuple[int, int, float]]:
        """Cosine top-k → [(vec_id, rank, cos_sim)] with the
        distributed module's ranking discipline: round to 6 dp first,
        then (cos desc, id asc). Exact by default; with ``n_probe``
        (and a trained quantizer on disk) only the nearest n_probe
        IVF cells are scored — the FAISS IVF-flat serving shape, exact
        again at ``n_probe >= n_cells``."""
        if not len(self.ids):  # empty shard (all part files zero-row)
            return []
        q = np.asarray(qvec, dtype=np.float64)
        qn = np.linalg.norm(q)
        if qn == 0:
            return []
        qu = q / qn
        if n_probe is not None and self._cells:
            csims = np.round(self._cunit @ qu, 6)
            probe = np.lexsort((self._cell_ids, -csims))[
                : min(n_probe, self._cells)
            ]
            rows = np.concatenate(
                [
                    self._cell_order[
                        self._cell_bounds[c] : self._cell_bounds[c + 1]
                    ]
                    for c in probe
                ]
            ) if len(probe) else np.array([], dtype=np.int64)
            if rows.size == 0:
                return []
            sims = np.round(self._unit[rows] @ qu, 6)
            ids = self.ids[rows]
        else:
            sims = np.round(self._unit @ qu, 6)
            ids = self.ids
        if exclude_id is not None:
            mask = ids != exclude_id
            sims, ids = sims[mask], ids[mask]
        n = len(ids)
        kk = min(k, n)
        if kk == 0:
            return []
        # full (−cos, id) lexsort: argpartition can split a rounded
        # tie group at the k boundary, and exactness wins over the
        # O(N log N) of a brute-force baseline
        sel = np.lexsort((ids, -sims))[:kk]
        return [
            (int(ids[i]), r + 1, float(sims[i])) for r, i in enumerate(sel)
        ]


def rrf_fuse_lists(
    arms: list[list[int]], k: int = 60, top: int = 10, round_to: int = 6
) -> list[tuple]:
    """Serving twin of ``similarity.rrf_fuse``: each arm is its ranked
    id list (index+1 = rank); returns [(id, r0.., rrf_score)] — top by
    (unrounded score desc, id asc), score rounded last."""
    ranks: list[dict[int, int]] = [
        {i: r + 1 for r, i in enumerate(arm)} for arm in arms
    ]
    all_ids = set()
    for rk in ranks:
        all_ids.update(rk)
    rows = []
    for i in sorted(all_ids):
        score = sum(1.0 / (k + rk[i]) for rk in ranks if i in rk)
        rows.append((score, i))
    rows.sort(key=lambda t: (-t[0], t[1]))
    return [
        (i, *[rk.get(i) for rk in ranks], round(s, round_to))
        for s, i in rows[:top]
    ]

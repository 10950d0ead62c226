"""Embedding-space clustering and cluster-driven data curation.

Superset operators (no reference counterpart — RBQL has no vector ops;
cited instead from the public literature):

  * kmeans_cluster — distributed Lloyd k-means over an embedding column:
    per-iteration cell assignment is a single native projection (or an
    Arrow kernel for large k), the centroid update is one shuffle-free
    per-task numpy fold whose collect moves ≤ tasks × k rows —
    independent of corpus size — and only k×dim numbers ever reach the
    driver.  quantizer='hash' makes the whole fit a pure function of the
    data that a DuckDB differential oracle replays value-for-value
    (the ivf_ann_topk determinism contract, similarity.py).
  * prototype_prune — data pruning by cluster prototypicality (Sorscher
    et al. 2022, "Beyond neural scaling laws: beating power law scaling
    via data pruning", arXiv:2206.14486): rank each cluster's members by
    cosine to their centroid and keep a fraction — 'hard' (far from the
    prototype; the abundant-data regime) or 'easy' (close; the
    scarce-data regime).  This is also SemDeDup's (arXiv:2303.09540)
    cluster stage: `semantic_dedup` (similarity.py) covers the
    LSH-pair path, prototype_prune the k-means-cell path.

Scale shape: kmeans_cluster never shuffles the corpus — each iteration
is one scan → per-task partial fold; only the k-row partials move.
prototype_prune shuffles the slim (id, cluster, sim) triple once on
cluster_id and reuses that partitioning for both its windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rbql_spark.ops.similarity import _round6_np, _train_centroids, cosine


def _assign_sim_exprs(centroids: list[list[float]]):
    """(cell, sim) of the nearest centroid as ONE native expression pair —
    array_max over (sim, -cell) structs, ties on the round-6 sim resolving
    to the lowest cell index (the _cell_exprs contract)."""
    def best(vec):
        arr = F.array(*[F.struct(
            F.round(cosine(vec, F.array(*[F.lit(x) for x in cv])), 6).alias('s'),
            F.lit(-i).alias('ni'))
            for i, cv in enumerate(centroids)])
        top = F.array_max(arr)
        return (-top['ni']).alias('cluster_id'), top['s'].alias('centroid_sim')
    return best


def _assign_sim_arrow(df: DataFrame, centroids: list[list[float]],
                      vec_col: str) -> DataFrame:
    """(cluster_id, centroid_sim) via a broadcast numpy kernel — the
    large-k regime where inline centroid literals would bloat the plan
    (see similarity._cells_arrow; this variant also emits the winning
    similarity).  Same ordering contract: sims rounded half-away-from-zero
    to 6 places, ties to the lowest cell."""
    import numpy as np

    from pyspark.sql.types import (
        DoubleType, IntegerType, StructField, StructType,
    )

    C = np.asarray(centroids, dtype=np.float64)
    cn = np.sqrt(np.einsum('ij,ij->i', C, C))
    bc = df.sparkSession.sparkContext.broadcast((C, cn))
    out_schema = StructType(list(df.schema.fields)
                            + [StructField('cluster_id', IntegerType()),
                               StructField('centroid_sim', DoubleType())])

    def assign(batches):
        CC, ccn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf[vec_col]])
            denom = np.outer(np.sqrt(np.einsum('ij,ij->i', X, X)), ccn)
            with np.errstate(divide='ignore', invalid='ignore'):
                sims = _round6_np((X @ CC.T) / denom)
            sims = np.where(denom > 0, sims, -1.0)
            # argmax with ties to the LOWEST cell: argmax takes the first
            # maximal entry in index order
            idx = np.argmax(sims, axis=1)
            out = pdf.copy()
            out['cluster_id'] = idx.astype('int32')
            out['centroid_sim'] = sims[np.arange(len(pdf)), idx]
            yield out

    return df.mapInPandas(assign, schema=out_schema)


def _iter_stats_arrow(cached: DataFrame, cent: list[list[float]]):
    """One Lloyd round's (cell → coordinate sums, member count) via a
    numpy kernel: per task, assign each row to its nearest centroid
    (the _assign_sim_arrow math — round-6 sims, ties to the lowest
    cell, bit-identical to the inline _cell_exprs argmax) and fold the
    members' coordinates into a k×dim partial, emitting ONE k-row
    partial frame per task.  Replaces the round-15 shape — an inline
    argmax projection (k×dim literals re-codegen'd every round, the
    dominant per-round cost at small k) feeding a posexplode of every
    coordinate into a groupBy(cell, pos) Exchange — with a shuffle-free
    scan whose collect moves ≤ tasks × k rows.  Summation grouping
    changes (per-task numpy folds, then a driver add), which sits below
    the round-6 centroid grid like every other float-order detail (the
    module's determinism contract)."""
    import numpy as np

    C = np.asarray(cent, dtype=np.float64)
    cn = np.sqrt(np.einsum('ij,ij->i', C, C))
    bc = cached.sparkSession.sparkContext.broadcast((C, cn))

    def run(batches):
        import pandas as pd
        CC, ccn = bc.value
        kk, dim = CC.shape
        S = np.zeros((kk, dim), dtype=np.float64)
        N = np.zeros(kk, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64)
                            for v in pdf['__cv']])
            denom = np.outer(np.sqrt(np.einsum('ij,ij->i', X, X)), ccn)
            with np.errstate(divide='ignore', invalid='ignore'):
                sims = _round6_np((X @ CC.T) / denom)
            sims = np.where(denom > 0, sims, -1.0)
            idx = np.argmax(sims, axis=1)
            for c in np.unique(idx):
                S[c] += X[idx == c].sum(axis=0)
            N += np.bincount(idx, minlength=kk)
        yield pd.DataFrame({'cell': np.arange(kk, dtype=np.int32),
                            's': list(S), 'n': N})

    return cached.mapInPandas(run, 'cell int, s array<double>, n long') \
                 .collect()


def kmeans_cluster(corpus: DataFrame, k: int = 8, n_iter: int = 2,
                   quantizer: str = 'hash',
                   id_col: str = 'vec_id', vec_col: str = 'embedding',
                   seed: int = 42,
                   centroid_strategy: str = 'auto') -> DataFrame:
    """Lloyd k-means over an embedding column → (id, cluster_id,
    centroid_sim): each row's final cell and its cosine to that cell's
    centroid.

    quantizer='hash' seeds the k centroids from the corpus rows with the
    smallest md5(id:seed) — deterministic and engine-replayable (the
    differential oracle unrolls the same n_iter Lloyd rounds in SQL);
    'kmeans' delegates the whole fit to seeded Spark ML k-means (better
    centroids, not bit-replayable) and n_iter is its maxIter.

    Each hash-mode round is one shuffle-free scan of the cached
    projection (_iter_stats_arrow): every task assigns its rows to the
    nearest current centroid (round-6 cosine, ties to the lowest cell)
    and folds the members' coordinates into one k-row partial, so the
    collect moves ≤ tasks × k rows regardless of corpus size.  The
    driver adds the partials; a new centroid is the element-wise mean
    of its members rounded half-away-from-zero to 6 places, and an
    empty cell keeps its previous centroid.  The k×dim centroid state
    lives on the driver between rounds (bounded by construction — the
    same contract as ivf_ann_topk's inline centroids).

    Replay contract for quantizer='hash': the DuckDB replay
    (`_kmeans_replay_sql` in the gate file) unrolls the same rounds in
    SQL, and because every round snaps the means to the 1e-6 grid, both
    engines iterate from identical centroids and summation-order drift
    cannot compound across rounds.  Within one round the sums are
    grouped differently (per-task numpy partials, then a driver add,
    against one SQL average), so a cell mean that lands within an ulp
    of a rounding half-grid point can snap 1e-6 apart; this has not
    been observed on the test corpora, where cluster ids match exactly
    and centroid sims to 6 places.

    centroid_strategy: 'inline' embeds centroids as plan literals (zero
    Python stages; plan grows with k), 'arrow' ships them as a broadcast
    into a numpy kernel (constant plan size, the k ≥ thousands regime);
    'auto' switches at 256 cells.
    """
    as_double = lambda col: F.transform(col, lambda x: x.cast('double'))  # noqa: E731
    c = corpus.select(F.col(id_col).alias('vec_id'),
                      as_double(F.col(vec_col)).alias('__cv'))

    if quantizer == 'kmeans':
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
        train = c.select('vec_id', array_to_vector(F.col('__cv')).alias('features'))
        model = KMeans(k=k, seed=seed, maxIter=max(1, n_iter)).fit(train)
        cent = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
        return _final_assign(c, cent, id_col, centroid_strategy)
    if quantizer != 'hash':
        raise ValueError("quantizer must be 'hash' or 'kmeans'")

    cent = _train_centroids(c, k, seed, 'hash')
    if not cent:
        raise ValueError('kmeans_cluster: empty corpus')
    # cache the projected corpus for the n_iter update jobs, then release
    # before returning: the final (lazy) assignment re-reads the source —
    # one extra scan buys a call that leaves no cache behind
    cached = c.persist() if n_iter > 1 else c
    try:
        import numpy as np
        dim = len(cent[0])
        for _ in range(n_iter):
            parts = _iter_stats_arrow(cached, cent)
            S = np.zeros((k, dim), dtype=np.float64)
            N = np.zeros(k, dtype=np.int64)
            for r in parts:
                S[int(r['cell'])] += np.asarray(r['s'], dtype=np.float64)
                N[int(r['cell'])] += int(r['n'])
            new = [list(cv) for cv in cent]
            for cell in range(k):
                if N[cell] > 0:
                    new[cell] = [float(_round6_np(S[cell][p] / N[cell]))
                                 for p in range(dim)]
            cent = new
    finally:
        if n_iter > 1:
            cached.unpersist()
    return _final_assign(c, cent, id_col, centroid_strategy)


def _final_assign(c: DataFrame, cent: list[list[float]], id_col: str,
                  centroid_strategy: str) -> DataFrame:
    strategy = centroid_strategy
    if strategy == 'auto':
        strategy = 'inline' if len(cent) <= 256 else 'arrow'
    if strategy == 'arrow':
        out = _assign_sim_arrow(c, cent, '__cv')
        return out.select(F.col('vec_id').alias(id_col),
                          'cluster_id', 'centroid_sim')
    best = _assign_sim_exprs(cent)
    cell, sim = best(F.col('__cv'))
    return c.select(F.col('vec_id').alias(id_col), cell, sim)


def prototype_prune(corpus: DataFrame, k: int = 8, keep_frac: float = 0.5,
                    n_iter: int = 2, keep: str = 'hard',
                    quantizer: str = 'hash',
                    id_col: str = 'vec_id', vec_col: str = 'embedding',
                    seed: int = 42,
                    centroid_strategy: str = 'auto') -> DataFrame:
    """Cluster-prototype data pruning (Sorscher et al., arXiv:2206.14486):
    k-means-cluster the corpus, rank each cluster's members by cosine to
    their centroid, keep ceil(keep_frac × cluster size) per cluster —
    keep='hard' retains the members FARTHEST from the prototype (the
    abundant-data regime, where prototypical examples are redundant),
    keep='easy' the closest (the scarce-data regime).  Ties break on the
    row id, so the kept set is deterministic and oracle-replayable in
    hash-quantizer mode.

    Returns the surviving (id, cluster_id, centroid_sim) triple — slim by
    design; join back to the corpus for the full rows.  One shuffle of
    that triple on cluster_id serves both the rank and the cluster-size
    windows (same partitioning, no second Exchange).
    """
    if keep not in ('hard', 'easy'):
        raise ValueError("keep must be 'hard' or 'easy'")
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError('keep_frac must be in (0, 1]')
    asg = kmeans_cluster(corpus, k=k, n_iter=n_iter, quantizer=quantizer,
                         id_col=id_col, vec_col=vec_col, seed=seed,
                         centroid_strategy=centroid_strategy)
    order = (F.col('centroid_sim').asc() if keep == 'hard'
             else F.col('centroid_sim').desc())
    w = Window.partitionBy('cluster_id').orderBy(order, F.col(id_col).asc())
    wn = Window.partitionBy('cluster_id')
    return (asg.withColumn('__rn', F.row_number().over(w))
               .withColumn('__n', F.count(F.lit(1)).over(wn))
               .filter(F.col('__rn') <= F.ceil(F.col('__n') * F.lit(keep_frac)))
               .select(id_col, 'cluster_id', 'centroid_sim'))

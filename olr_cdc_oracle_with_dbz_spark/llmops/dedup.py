"""Deduplication operators for training-data pipelines (SURVEY §2B L1/L2+).

Four dedup families, each the idiomatic Spark shape for 100 TB:

* **Exact** (L1): hash-groupBy on normalized content — one shuffle on the
  content key; partial aggregation collapses duplicates map-side.
* **MinHash + LSH banding** (L2, APPROX): shingle → K minhashes → B bands →
  bucket join. Candidate generation is an equi-join on (band, bucket-hash),
  never an all-pairs comparison; cost is O(candidates), data-dependent.
* **N-gram Jaccard** (L2b, EXACT): inverted-index pair generation (docs
  sharing a trigram) + exact set-overlap Jaccard — the verification stage
  LSH candidates would feed at scale.
* **SimHash** (L2c, EXACT): 16-bit weighted-projection fingerprint;
  near-dups differ in ≤ k bits.

Portability: every hash is derived from md5 hex (both engines), converted
to int via base-16 parse — no engine-specific hash functions in checked
queries.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from olr_cdc_oracle_with_dbz_spark.catalog import Catalog, key_bounds, row_count
from olr_cdc_oracle_with_dbz_spark.functions.generators import explode_once
from olr_cdc_oracle_with_dbz_spark.functions.hashing import (
    _xxh64_bytes_slices,
    _xxh64_int_seed,
    _xxh64_long_vec,
)
from olr_cdc_oracle_with_dbz_spark.registry import register
from olr_cdc_oracle_with_dbz_spark.plans.canonical import fround, ordered, presort_ranges, presort_static, ordered_static


def _hash60(col):
    """Portable 60-bit integer hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


_SQL_HASH60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


@register(
    "l1_exact_dedup",
    oracle="""
    SELECT md5(lower(trim(text))) AS content_key,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY content_key
    ORDER BY keep_id
    """,
    tags=("llm", "dedup"),
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup by normalized content hash; keep lowest doc_id."""
    d = Catalog(spark, sf_dir).documents
    return (
        d.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("content_key"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .transform(ordered_static, key_bounds(sf_dir, "documents"), "keep_id")
    )


#: MinHash configuration: 16 permutations, 4 bands × 4 rows.
_N_PERM, _N_BANDS = 16, 4

# The permutation re-hash reimplements Spark's xxhash64(lit(p), h) —
# hashInt(p, seed=42) feeding hashLong(h, ·) — with the numpy twins of
# functions/hashing.py, pinned BIT-IDENTICAL to the JVM expression in
# tests/test_llmops.py::test_minhash_numpy_xxh64_matches_jvm.


def _make_trigram_text_engine():
    """Factory (pickle BY VALUE) for the shared trigram-shingle extractor.

    Consumes a PRE-LOWERED Arrow string array as raw buffers (int32/int64
    offsets + one contiguous UTF-8 data buffer) and returns, per shingle,
    its doc index and XXH64 hash plus the per-doc shingle counts. The key
    identity: with ``t = split(text, " ")`` (literal single-space split,
    limit -1), the trigram ``concat_ws(" ", t[i], t[i+1], t[i+2])`` is
    EXACTLY the contiguous byte slice of ``text`` from the start of token
    i to the end of token i+2 — split on " " reconstructs the text, and
    concat_ws joins empty tokens with the same separators. So shingle
    hashing needs no string materialization at all: token boundaries are
    the 0x20 byte positions (UTF-8 multibyte sequences never contain
    0x20), and each slice hashes through the vectorized XXH64 — values
    bit-identical to the JVM ``xxhash64(concat_ws(...))`` chain this
    replaces (guide §4.2: re-slice the Arrow buffer, don't copy rows).
    Docs with <3 tokens (or NULL text) emit zero shingles, matching the
    ``size(split(...)) >= 3`` filter of the old chain and the oracle."""

    def shingles_of(text_arr):
        """→ (sh_doc, hashes_i64, m): shingle→doc index (doc-ordered),
        shingle XXH64 as int64, per-doc shingle counts."""
        import numpy as np
        import pyarrow as pa

        n = len(text_arr)
        off_dt = np.int64 if pa.types.is_large_string(text_arr.type) else np.int32
        bufs = text_arr.buffers()
        offs = np.frombuffer(bufs[1], off_dt, count=text_arr.offset + n + 1)[
            text_arr.offset :
        ].astype(np.int64)
        data = np.frombuffer(bufs[2], np.uint8)
        if text_arr.null_count:
            valid = ~np.asarray(text_arr.is_null())
        else:
            valid = np.ones(n, dtype=bool)
        doc_start, doc_end = offs[:-1], offs[1:]
        sp = (
            np.nonzero(data[offs[0] : offs[-1]] == 32)[0] + offs[0]
            if offs[-1] > offs[0]
            else np.empty(0, np.int64)
        )
        first_sp = np.searchsorted(sp, doc_start)
        n_sp = np.searchsorted(sp, doc_end) - first_sp
        # tokens = spaces + 1; shingles = tokens - 2 where tokens ≥ 3
        m = np.where(valid & (n_sp >= 2), n_sp - 1, 0).astype(np.int64)
        total = int(m.sum())
        if not total:
            return np.empty(0, np.int64), np.empty(0, np.int64), m
        # per-doc token-start table T: [doc_start, spaces+1..., doc_end+1]
        seg_len = n_sp + 2
        seg_off = np.zeros(n + 1, np.int64)
        np.cumsum(seg_len, out=seg_off[1:])
        T = np.empty(seg_off[-1], np.int64)
        T[seg_off[:-1]] = doc_start
        T[seg_off[1:] - 1] = doc_end + 1
        sp_doc = np.searchsorted(doc_end, sp, side="right")
        T[seg_off[sp_doc] + 1 + (np.arange(len(sp)) - first_sp[sp_doc])] = sp + 1
        elig = np.nonzero(m)[0]
        sh_doc = np.repeat(elig, m[elig])
        csum = np.zeros(len(elig), np.int64)
        np.cumsum(m[elig][:-1], out=csum[1:])
        sh_local = np.arange(total, dtype=np.int64) - np.repeat(csum, m[elig])
        base = seg_off[sh_doc] + sh_local
        starts = T[base]
        lens = T[base + 3] - 1 - starts  # end = next-next-next token start − 1
        hashes = _xxh64_bytes_slices(data, starts, lens, 42).view(np.int64)
        return sh_doc, hashes, m

    return shingles_of


_trigram_shingles = _make_trigram_text_engine()


def minhash_signatures(docs: DataFrame, n_perm: int = _N_PERM) -> DataFrame:
    """doc_id → array<long> of n_perm minhashes over word 3-gram shingles.

    ZERO-shuffle implementation: ONE fused ``mapInArrow`` kernel computes
    everything from the pre-lowered text bytes — shingle boundaries as
    0x20 positions over the Arrow string buffer, shingle XXH64 by
    vectorized length groups (bit-identical to the JVM
    ``xxhash64(concat_ws(" ", t[i..i+2]))`` chain it replaces — the
    trigram is a contiguous byte slice of the text, see
    :func:`_make_trigram_text_engine`), then the n_perm permutation
    re-hashes as flat uint64 passes + segmented minima per doc. The r19
    form still evaluated the shingle chain as an interpreted Catalyst HOF
    (split + per-element concat_ws/xxhash64 outside codegen) feeding a
    pandas UDF; moving the shingle hash into the same Arrow kernel
    removes that per-element interpretation and ships only (doc_id,
    lowered text) across the Python boundary. Values are IDENTICAL (the
    permutation min is duplicate-insensitive, so the old array_distinct
    is unnecessary work); docs with <3 tokens emit no signature, exactly
    as the old ``size(ts) >= 3`` filter and the DuckDB oracle exclude
    them. Still one scan, no explode, no groupBy; seeding by permutation
    index keeps the n_perm hash families independent.
    """
    seeds = [_xxh64_int_seed(p) for p in range(n_perm)]

    def sig_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            sh_doc, h, m = _trigram_shingles(batch.column(names.index("tl")))
            elig = np.nonzero(m)[0]
            if not len(elig):
                continue
            seg = np.zeros(len(elig), np.int64)
            np.cumsum(m[elig][:-1], out=seg[1:])
            u = h.view(np.uint64)
            mins = np.empty((len(elig), n_perm), dtype=np.int64)
            for p, sd in enumerate(seeds):
                # shingles are emitted doc-ordered, so reduceat segments
                # are contiguous and non-empty (every eligible doc has ≥1)
                mins[:, p] = np.minimum.reduceat(
                    _xxh64_long_vec(u, sd).view(np.int64), seg
                )
            sig = pa.ListArray.from_arrays(
                pa.array(np.arange(len(elig) + 1, dtype=np.int32) * n_perm),
                pa.array(mins.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(names.index("doc_id")).take(pa.array(elig)), sig],
                ["doc_id", "sig"],
            )

    return docs.select("doc_id", F.lower("text").alias("tl")).mapInArrow(
        sig_batches, "doc_id long, sig array<long>"
    )


@register("l2_minhash_lsh", oracle=None, approx=True, tags=("llm", "dedup"))
def l2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 (APPROX): MinHash/LSH near-dup candidates via band-bucket join.

    Banding: signature split into 4 bands of 4 hashes; docs sharing any
    band bucket become candidates; estimated Jaccard = matching-minhash
    fraction. Recall vs exact duplicates is pytest-verified.
    """
    docs = Catalog(spark, sf_dir).documents
    sig = minhash_signatures(docs)
    rows_per_band = _N_PERM // _N_BANDS
    bands = explode_once(
        sig,
        ["doc_id", "sig"],
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig").getItem(b * rows_per_band + r).cast("string")
                                for r in range(rows_per_band)
                            ],
                        )
                    ).alias("bucket"),
                )
                for b in range(_N_BANDS)
            ]
        ),
        "bb",
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # SHUFFLE_HASH on both sides (the l2b pattern): with symmetric shuffle
    # exchanges Catalyst plans a ReusedExchange, so the signature + banding
    # expression chain is computed ONCE per corpus instead of once per join
    # side; a broadcast side would re-evaluate it (and broadcasting either
    # side is wrong at corpus scale anyway).
    a = bands.alias("a").hint("shuffle_hash")
    b = bands.alias("b").hint("shuffle_hash")
    est = fround(
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(_N_PERM),
        6,
    )
    # estimate + threshold BEFORE the cross-band dedup: the old order
    # shuffled both 16-long signatures per candidate through the
    # dropDuplicates exchange and kept sub-threshold pairs alive until the
    # end — this way the dedup exchange carries only (ids, est) for pairs
    # that already passed the 0.5 gate. A pair colliding in several bands
    # re-computes one zip_with instead of shuffling 256 signature bytes.
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs.transform(ordered_static, key_bounds(sf_dir, "documents"), "doc_a", "doc_b")


_L2B_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS ts FROM documents
    ), tri AS (
      -- docs with < 3 tokens emit ZERO shingles (matches the Spark side;
      -- without the guard the two engines' concat semantics diverge:
      -- concat_ws skips missing elements, || with NULL yields NULL)
      SELECT DISTINCT doc_id, lang,
             unnest(list_transform(range(1, len(ts) - 1),
                    i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS shingle
      FROM toks WHERE len(ts) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM tri a JOIN tri b
        ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.2
    ORDER BY doc_a, doc_b
    """


def trigram_shingle_rows(d: DataFrame) -> DataFrame:
    """(doc_id, lang, sz, shingle) rows — the shared shingle stage of
    l2b/l2e: per-doc DISTINCT word-trigram XXH64 hashes exploded with
    the per-doc distinct count carried alongside."""
    # docs with < 3 tokens produce zero shingles (cross-engine contract —
    # see the oracle CTE comment); shingles reduced to 64-bit xxhash BEFORE
    # the dedup/join shuffles — 8-byte keys instead of ~20-byte strings
    # through two exchanges; the equi-join result is unchanged (collision
    # odds ~|shingles|²/2⁶⁴).
    #
    # ONE fused mapInArrow kernel (r20) replaces the interpreted Catalyst
    # shingle chain (split → sequence/transform with per-element
    # concat_ws+xxhash64 → array_distinct): shingle boundaries come from
    # the 0x20 positions over the raw Arrow text buffer, hashes from the
    # vectorized XXH64 (bit-identical to the JVM chain — the trigram IS a
    # contiguous byte slice of the lowered text, see
    # _make_trigram_text_engine), per-doc DEDUP from one lexsort pass.
    # The kernel returns PER-DOC ARRAYS and the explode stays JVM-side:
    # emitting the exploded rows from Python re-ships doc_id/lang/sz per
    # shingle row through the Arrow→InternalRow boundary, which measured
    # SLOWER than the old chain at sf0.1 and only ~1.25× at sf1; the
    # array form transfers each value once and measured 0.35 vs 0.34 s at
    # sf0.1 (wash, floor-bound) and 1.50 vs 2.40 s at sf1 (1.6×). Plain
    # explode is safe here: `sh` is a STORED kernel output column, so the
    # InferFiltersFromGenerate size>0 re-evaluation trap (generators.py)
    # re-reads a column reference, not the kernel. sz (distinct-shingle
    # count) still rides the join — the r9 finding that carrying one long
    # per shingle row beats two corpus-sized joins after the pair
    # aggregation stands unchanged.
    def tri_batches(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            names = batch.schema.names
            sh_doc, h, m = _trigram_shingles(batch.column(names.index("tl")))
            elig = np.nonzero(m)[0]
            if not len(elig):
                continue
            order = np.lexsort((h, sh_doc))
            dd, hd = sh_doc[order], h[order]
            keep = np.ones(len(hd), dtype=bool)
            keep[1:] = (dd[1:] != dd[:-1]) | (hd[1:] != hd[:-1])
            dk, hk = dd[keep], hd[keep]
            cnt = np.bincount(dk, minlength=len(batch))
            offs = np.zeros(len(elig) + 1, np.int64)
            np.cumsum(cnt[elig], out=offs[1:])
            sh = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()), pa.array(hk)
            )
            idx = pa.array(elig)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(names.index("doc_id")).take(idx),
                    batch.column(names.index("lang")).take(idx),
                    pa.array(cnt[elig].astype(np.int32)),
                    sh,
                ],
                ["doc_id", "lang", "sz", "sh"],
            )

    tri = (
        d.select("doc_id", "lang", F.lower("text").alias("tl"))
        .mapInArrow(tri_batches, "doc_id long, lang string, sz int, sh array<long>")
        .select("doc_id", "lang", "sz", F.explode("sh").alias("shingle"))
    )
    return tri


def _jaccard_pairs(
    spark: SparkSession, sf_dir: str, width: int | None = None
) -> DataFrame:
    """Unordered trigram-Jaccard pair set (shared by l2b and l2e).

    ``width``: partition count for the candidate-pair join (defaults to
    the pool's defaultParallelism; see the width comment below).
    """
    d = Catalog(spark, sf_dir).documents
    tri = trigram_shingle_rows(d)
    # SHUFFLE_HASH on the inverted-index self-join: the join key (shingle
    # hash) is high-cardinality, so sort-merge wastes two sorts and
    # broadcast is impossible at corpus scale — a shuffled hash join is
    # the right strategy at every scale factor.
    #
    # Width: this join emits Σ k(k-1)/2 co-occurrence rows (44M at sf1
    # from 2.6M shingle rows) — the ONE post-shuffle stage in the repo
    # whose work is candidate-pair-sized, not input-sized. At the global
    # spark.sql.shuffle.partitions (sized for MB-scale exchanges) it runs
    # 8-way on a 25-thread pool; an explicit repartition on the join key
    # to full core width halved the query at sf1 (19.5 s → 9.9 s). The
    # repartition IS the join's required distribution, so no extra
    # exchange is added. On a cluster, width scales with executor count
    # via defaultParallelism.
    if width is None:
        # Width scales with DATA, capped by the pool: the join's work is
        # candidate-pair-sized, which grows with corpus size — ~2k docs per
        # task reproduces the measured sf1 optimum (50k docs → full ~25-way
        # pool, the 19.5 → 9.9 s measurement above) while a 5k-doc corpus
        # (sf0.1) stops paying the task-launch floor for ~24 near-empty
        # partitions — 3× the useful width there, measured r9. Footer row
        # count is a driver-side metadata read — zero jobs.
        docs_n = row_count(sf_dir, "documents")
        width = max(8, min(docs_n // 2000, spark.sparkContext.defaultParallelism))
    tri = tri.repartition(width, "shingle", "lang")
    a, b = tri.alias("a").hint("shuffle_hash"), tri.alias("b").hint("shuffle_hash")
    # Aggregation shape (r8): a pair's co-occurrence rows are spread across
    # SHINGLE partitions, so a map-side partial aggregate over the join
    # output achieves ~zero reduction — a 44M-entry hash-map build (at sf1)
    # whose output is the same 44M rows. Re-partitioning the raw join
    # output on the PAIR key first makes the post-shuffle aggregate the
    # only one doing work (same shuffled volume, one wasted hash pass
    # removed; measured 11.5 → 7.7 s at sf1). The two sizes ride as ONE
    # packed long (sz < 2³¹ always — it's a per-doc shingle count), keeping
    # the shuffle row at 3 longs; recomputing sizes post-agg instead costs
    # a second shingle pass and loses (9.9 s measured). Posting-list length
    # cutoffs were measured out: see SCALE.md §6 (no skew to cut — max
    # k=140 at sf1).
    cooc = a.join(
        b,
        (F.col("a.shingle") == F.col("b.shingle"))
        & (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        (F.shiftleft(F.col("a.sz").cast("long"), 32) + F.col("b.sz")).alias("_szs"),
    )
    # Pair-aggregation width is sized SEPARATELY from the join width
    # (ADVICE r9): the aggregation's input is candidate-pair-sized
    # (Σ k(k-1)/2 per shingle bucket), which grows far faster than doc
    # count on duplicate-heavy corpora — reusing the doc-scaled width
    # under-partitions this stage exactly when it is largest. Floor it at
    # the full pool width; a duplicate-heavy corpus keeps every core busy
    # here even when the doc count alone would not justify it.
    pair_width = max(width, spark.sparkContext.defaultParallelism)
    inter = (
        cooc.repartition(pair_width, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b", "_szs")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_a = F.shiftright("_szs", 32)
    sz_b = F.col("_szs").bitwiseAND(F.lit(0xFFFFFFFF))
    jac = F.col("n_common").cast("double") / (sz_a + sz_b - F.col("n_common"))
    return inter.filter(jac >= 0.2).select(
        "doc_a", "doc_b", fround(jac, 6).alias("jaccard")
    )


@register("l2b_ngram_jaccard", oracle=_L2B_ORACLE, tags=("llm", "dedup"))
def l2b_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2b (EXACT): word-trigram Jaccard near-dup pairs.

    Pair generation by inverted-index join on shared shingles (within the
    same language) — the exact-verification stage of a dedup pipeline; at
    scale the LSH candidates (l2_minhash_lsh) gate which pairs reach it.
    """
    # partitions=1: the sort's child is the pair aggregation — a sampled
    # range sort re-executes the final agg over the 44M-row candidate set;
    # the single partition needs no sampling and the threshold-filtered
    # pair list (233k rows at sf1) sorts comfortably on one task.
    return _jaccard_pairs(spark, sf_dir).transform(ordered, "doc_a", "doc_b", partitions=1)


_COS_TAU = 0.4  # synthetic embeddings are near-orthogonal (max pair ≈ 0.51)


_L2D_BLOCKS = 8


@register(
    "l2d_embedding_neardup",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cosine
    FROM base a JOIN base b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm) >= {_COS_TAU}
    ORDER BY vec_a, vec_b
    """,
    tags=("llm", "dedup", "similarity"),
)
def l2d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2d (EXACT): embedding-cosine near-duplicate pairs (cosine ≥ τ).

    Block-matrix self-join — fully distributed, nothing touches the driver:
    the corpus splits into B hash blocks; every unordered block pair (i ≤ j)
    is one ``applyInPandas`` group holding just those two blocks' vectors.
    Each group runs one BLAS GEMM for candidates above τ−ε, then re-scores
    the survivors with the strict left-fold dot product (k-ascending
    accumulation — bit-identical to the oracle's ``list_dot_product``, for
    value AND norm), so the τ boundary and the 6-dp rounding are
    engine-exact. A pair lands in exactly one group → no cross-group dedup.

    100 TB shape: shuffle volume is B× the corpus (each block joins B
    partners), memory per task is 2 blocks — B tunes the classic
    replication-vs-task-memory trade; LSH/IVF gating (l2, l4c) cuts the
    quadratic work before this exact kernel when τ is high.
    """
    import numpy as np
    import pandas as pd

    emb = Catalog(spark, sf_dir).embeddings
    B = _L2D_BLOCKS
    rep = (
        emb.select("vec_id", "embedding")
        .withColumn("_blk", F.pmod(F.col("vec_id"), F.lit(B)).cast("int"))
        .withColumn("_other", F.explode(F.array(*[F.lit(o) for o in range(B)])))
        .select(
            F.least("_blk", "_other").alias("pi"),
            F.greatest("_blk", "_other").alias("pj"),
            "_blk",
            "vec_id",
            "embedding",
        )
        # no dedup needed: for a row with _blk=b, each unordered pair
        # (min(b,o), max(b,o)) is produced by exactly one value of _other,
        # so (pi, pj, vec_id) is already unique — a dropDuplicates here
        # compiled to TWO vector-shuffling SortAggregate exchanges
    )

    def _fold_dot(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        """Left-fold dot across axis 1 (k-ascending — the oracle's order)."""
        acc = np.zeros(len(a), dtype=np.float64)
        for k in range(a.shape[1]):
            acc = acc + a[:, k] * b[:, k]
        return acc

    def block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        pi, pj = int(pdf["pi"].iloc[0]), int(pdf["pj"].iloc[0])
        ids = np.asarray(pdf["vec_id"], dtype=np.int64)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        blk = np.asarray(pdf["_blk"], dtype=np.int64)
        la, lb = (blk == pi), (blk == pj)
        ia, ma = ids[la], mat[la]
        ib, mb = ids[lb], mat[lb]
        if not len(ia) or not len(ib):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        sims = (ma @ mb.T) / np.outer(np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1))
        # ε guards GEMM-vs-fold summation-order drift at the boundary.
        # Diagonal groups (pi == pj) hold each unordered pair twice → keep
        # the id-ascending orientation; off-diagonal groups hold it once in
        # an arbitrary orientation → keep id != id and canonicalize below.
        if pi == pj:
            want = ia[:, None] < ib[None, :]
        else:
            want = ia[:, None] != ib[None, :]
        r, c = np.nonzero((sims >= _COS_TAU - 1e-9) & want)
        if not len(r):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        # exact re-score: strict left-fold for dot AND both norms
        va, vb = ma[r], mb[c]
        cos = _fold_dot(va, vb) / (
            np.sqrt(_fold_dot(va, va)) * np.sqrt(_fold_dot(vb, vb))
        )
        keep = cos >= _COS_TAU
        lo = np.minimum(ia[r][keep], ib[c][keep])
        hi = np.maximum(ia[r][keep], ib[c][keep])
        return pd.DataFrame(
            {"vec_a": lo, "vec_b": hi, "cosine": np.round(cos[keep], 6)}
        )

    return (
        rep.groupBy("pi", "pj")
        .applyInPandas(block_pair, "vec_a bigint, vec_b bigint, cosine double")
        # partitions=1: a multi-partition range sort samples its child, and
        # here the child is the GEMM itself — the sampler would run every
        # block product twice. One range partition needs no sampling
        # (canonical.py); the pair list is threshold-filtered output,
        # orders of magnitude below corpus size, so one sort task holds.
        .transform(ordered, "vec_a", "vec_b", partitions=1)
    )


@register(
    "l2c_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ), counted AS (
      SELECT doc_id, tok, COUNT(*) AS cnt,
             {_SQL_HASH60.format(x='tok')} AS h
      FROM toks GROUP BY doc_id, tok
    ), bits AS (
      SELECT doc_id,
             {', '.join(f"SUM(cnt * (((h >> {j}) & 1) * 2 - 1)) AS b{j}" for j in range(16))}
      FROM counted GROUP BY doc_id
    )
    SELECT doc_id,
           {' + '.join(f"(CASE WHEN b{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))} AS simhash
    FROM bits ORDER BY doc_id
    """,
    tags=("llm", "dedup"),
)
def l2c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2c (EXACT): 16-bit SimHash document fingerprint.

    Token-count-weighted signed projection per bit; near-dup docs differ in
    few bits (Hamming ball lookup at scale). SimHash is a per-document map:
    the whole signature computes in one vectorized mapInPandas pass, with
    exactly one exchange — the presentation range partitioning, placed
    BELOW the kernel so its sampler cannot re-execute it (plan-pinned in
    tests/test_plans.py; presort_ranges in plans/canonical.py).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    d = Catalog(spark, sf_dir).documents

    def sim_batches(batches):
        # SimHash is a PER-DOCUMENT map — no explode, no groupBy, zero
        # shuffle (the previous explode + 16-bit-sum aggregate cost 11 s at
        # sf1 vs DuckDB's 0.8 s; this pure-map form measures ~1 s). The
        # md5-derived 60-bit token hash is memoized per worker: natural-
        # language vocabulary is Zipf-bounded, so the cache turns
        # occurrences into distinct-token hashes; a size cap keeps memory
        # bounded on adversarial vocabularies.
        cache: dict[str, int] = {}
        weights = (1 << np.arange(16)).astype(np.int64)

        def h60(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                if len(cache) >= 1_000_000:
                    cache.clear()
                v = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                cache[tok] = v
            return v

        for pdf in batches:
            out = np.empty(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf["text"]):
                hs = np.fromiter(
                    (h60(t) for t in text.lower().split(" ")), dtype=np.int64
                )
                # signed per-bit contributions summed per occurrence
                # (≡ Σ_distinct cnt·(±1)), identical to the oracle's form
                acc = (((hs[:, None] >> np.arange(16)) & 1) * 2 - 1).sum(axis=0)
                out[i] = int(((acc > 0) * weights).sum())
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "simhash": out})

    return (
        d.select("doc_id", "text")
        .transform(presort_static, key_bounds(sf_dir, "documents"), "doc_id")  # pre-kernel: no sampler
        # placed after the kernel re-executes it (canonical.py)
        .mapInPandas(sim_batches, "doc_id bigint, simhash bigint")
        .sortWithinPartitions("doc_id")
    )


def propagation_partitions(n_edges: int, edges_per_task: int = 1_000_000) -> int:
    """Partition count for the label-propagation join: one task per
    ~``edges_per_task`` edges, floored at 2 so tiny local graphs keep the
    minimal-scheduling behavior. This is the scale dial the round-2 verdict
    asked to move from comment to code: at 100 TB a large near-dup graph
    gets ``|edges| / 1M`` tasks instead of serializing onto 2."""
    return max(2, -(-n_edges // edges_per_task))


#: Phase-2 threshold: an edge list at or under this row count is finished
#: driver-side (16 bytes/edge → ≤ ~16 MB collected, far under any driver
#: budget). The pair GRAPH is never corpus-sized — it is the output of the
#: Jaccard threshold — so real corpora routinely land here even when the
#: document table does not.
_CC_LOCAL_MAX_EDGES = 1_000_000


@register(
    "l2e_dup_clusters",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_L2B_ORACLE}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d, r.lab FROM reach r JOIN edges e ON e.s = r.doc
    )
    SELECT doc AS doc_id, MIN(lab) AS cluster FROM reach
    GROUP BY doc ORDER BY doc_id
    """,
    tags=("llm", "dedup"),
)
def l2e_dup_clusters(
    spark: SparkSession,
    sf_dir: str,
    edges_per_task: int = 1_000_000,
    local_max_edges: int = _CC_LOCAL_MAX_EDGES,
) -> DataFrame:
    """L2e (EXACT): near-dup clusters = connected components of the
    trigram-Jaccard pair graph; cluster id = min doc_id in the component.

    The dedup *decision* step: keep one representative per cluster.
    Two-phase, switched on the MEASURED edge count (the standard
    MapReduce-CC shape — e.g. Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — run distributed rounds only while the
    graph is too big for one machine, then finish locally):

    * ``|E| ≤ local_max_edges``: collect the (bounded, never corpus-sized)
      edge list and run union-find on the driver — one job instead of
      O(diameter) join rounds.
    * otherwise: iterative min-label propagation over DataFrames (the
      simplified large-star algorithm): each round, every node takes the
      minimum label among itself and its neighbors; converges in
      O(component diameter) rounds, each round one shuffle-join of
      (edges ⋈ labels). Oracle: DuckDB recursive CTE reachability.

    Scale shape: the join parallelism follows measured edge volume
    (:func:`propagation_partitions`), edges are hash-partitioned on the
    join key ``s`` so every round reuses that partitioning, and each round
    costs ONE Spark job — the convergence aggregate doubles as the action
    that materializes the round's label cache.
    """
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # count once (also warms the cache), then phase-switch on the measured
    # edge volume. The cache/count/collect operate on the UNDOUBLED pair
    # list (r20): union-find is direction-blind, so the local phase needs
    # each edge once — half the cached rows, half the Arrow transfer, half
    # the union loop of the old doubled-edge form; only the distributed
    # phase (which joins on the source endpoint) symmetrizes.
    pairs = pairs.persist()
    n_edges = 2 * pairs.count()
    docs = Catalog(spark, sf_dir).documents.select("doc_id")
    if n_edges <= local_max_edges:
        # phase 2 directly: the whole graph fits one task's worth of memory.
        # toPandas rides the Arrow path (bounded by local_max_edges by the
        # branch) — the row-based collect() pickled every edge row through
        # py4j (guide §6: Arrow for driver transfers).
        import pandas as pd

        epdf = pairs.toPandas()
        pairs.unpersist(blocking=False)
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(epdf["doc_a"].to_numpy(), epdf["doc_b"].to_numpy()):
            s, d = int(s), int(d)
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[max(rs, rd)] = min(rs, rd)  # min-id root ⇒ min label
        # Arrow-backed local relation: createDataFrame from a list plans a
        # pickled Python-RDD scan that re-deserializes on EVERY execution;
        # the pandas+Arrow form embeds a LocalTableScan in the plan once.
        lpdf = pd.DataFrame(
            {"doc_id": list(parent), "lab": [find(x) for x in parent]},
            dtype="int64",
        )
        labels = spark.createDataFrame(lpdf, "doc_id long, lab long")
        connected = labels.select("doc_id")
    else:
        # both edge directions from ONE evaluation of the pair join:
        # union'ing pairs with its own swap plants the inverted-index
        # self-join subtree in the plan twice (two ShuffledHashJoins,
        # measured), and the shingle join is ~80% of l2e's cost; exploding
        # a 2-element struct array emits (s,d) and (d,s) from a single
        # join output row instead (here the explode reads the cache).
        raw = pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("s"), F.col("doc_b").alias("d")),
                    F.struct(F.col("doc_b").alias("s"), F.col("doc_a").alias("d")),
                )
            ).alias("e")
        ).select("e.s", "e.d")
        labels, connected = _propagate_min_labels(
            raw, n_edges, edges_per_task, release=pairs
        )
    singletons = docs.join(connected, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("lab")
    )
    return (
        labels.unionByName(singletons)
        .select("doc_id", F.col("lab").alias("cluster"))
        .transform(ordered_static, key_bounds(sf_dir, "documents"), "doc_id")
    )


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free a ``localCheckpoint()`` frame's stored blocks.
    ``DataFrame.unpersist`` does not: it only drops CacheManager entries,
    and a local checkpoint is a LogicalRDD leaf over a persisted RDD that
    the CacheManager never saw."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def _propagate_min_labels(
    raw: DataFrame,
    n_edges: int,
    edges_per_task: int,
    release: DataFrame | None = None,
):
    """Distributed phase of :func:`l2e_dup_clusters`: min-label propagation
    with POINTER JUMPING until the (monotone) label sum fixes. Returns
    (labels, connected).

    Each round combines the neighbor-min step with a pointer jump
    (``lab(lab(v))``, read from the SAME cached label table so nothing is
    recomputed): ``lab'(v) = min(lab(v), lab(lab(v)), min_{(u,v)∈E}
    lab(u))``. The jump halves the remaining pointer depth every round, so
    a component of diameter d converges in O(log d) rounds instead of the
    plain propagation's O(d) — each round is still ONE Spark job (the
    round is two Spark jobs — the lineage-cut materialization plus the
    convergence aggregate — so deep components cost 2·log-many job
    schedulings where plain propagation costs 1·diameter-many
    (tests/test_llmops.py pins a 64-deep chain; plain propagation
    schedules ~70 jobs there). Correctness: labels are always ids of
    component members and only ever decrease (least of component-member
    labels), and at a fixpoint lab(v) ≤ lab(u) across every (symmetric)
    edge forces lab constant per component = the component min — the jump
    term never changes the fixpoint, only how fast it is reached.
    ``release`` is an upstream cached frame to unpersist once the edge
    list is checkpointed.
    """
    n_parts = propagation_partitions(n_edges, edges_per_task)
    edges = raw.repartition(n_parts, "s").localCheckpoint()  # cut pair-gen lineage
    if release is not None:
        release.unpersist(blocking=False)
    # only nodes that HAVE edges participate in propagation; the (vast)
    # singleton majority is its own cluster and never enters the loop
    connected = (
        edges.select(F.col("s").alias("doc_id"))
        .distinct()
        .repartition(n_parts, "doc_id")
        .localCheckpoint()
    )
    labels = connected.select("doc_id", F.col("doc_id").alias("lab"))
    prev_sum, rounds, prev_cut = None, 0, None
    while True:
        neighbor_min = (
            edges.join(labels, edges.s == labels.doc_id)
            .groupBy(F.col("d").alias("doc_id"))
            .agg(F.min("lab").alias("nlab"))
        )
        # pointer jump: lab(lab(v)) via a self-join of the CACHED label
        # table (x.lab → y.doc_id); lab(v) is always a connected-node id,
        # so the left join matches except transiently — coalesce keeps it
        # total. All three label reads in this round's plan hit the same
        # cache/checkpoint; nothing is evaluated twice.
        x, y = labels.alias("x"), labels.alias("y")
        jumped = x.join(y, F.col("x.lab") == F.col("y.doc_id"), "left").select(
            F.col("x.doc_id").alias("doc_id"),
            F.least(
                F.col("x.lab"), F.coalesce(F.col("y.lab"), F.col("x.lab"))
            ).alias("jlab"),
        )
        new_labels = jumped.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("jlab"), F.coalesce("nlab", "jlab")).alias("lab"),
        )
        rounds += 1
        # hard lineage cut EVERY round (r20): the pointer jump references
        # the label table twice, and the analyzer DEDUPLICATES the
        # self-join's attribute ids — the deduplicated reference no longer
        # matches the cache entry, so persist() leaves it re-executing the
        # whole previous round's subtree (measured: round wall time and
        # job count doubling per round on a 64-chain). A LogicalRDD cut
        # makes all three label reads leaf scans of one materialized RDD.
        # Cost: localCheckpoint schedules its own materialization job on
        # Spark 4.1 even with eager=False, so a round is 2 jobs (cut +
        # convergence sum) — 2·O(log d) jobs still beats the plain
        # propagation's 1·O(d) from diameter ~4 up, and the sum job only
        # re-scans the checkpointed labels.
        new_labels = new_labels.localCheckpoint(eager=False)
        # labels only ever decrease, so the label sum is a strictly
        # monotone convergence metric.
        new_sum = new_labels.agg(F.sum("lab")).collect()[0][0]
        # the previous round's cut is unreferenced from here on (the new
        # cut holds its own materialized copy); release its blocks now
        # instead of leaving O(log d) label copies to the ContextCleaner
        if prev_cut is not None:
            _release_local_checkpoint(prev_cut)
        labels = prev_cut = new_labels
        if prev_sum is not None and new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels, connected


@register(
    "l9_train_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN h % 100 < 80 THEN 'train'
                WHEN h % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 {_SQL_HASH60.format(x="'split:' || CAST(doc_id AS VARCHAR)")} AS h
          FROM documents)
    ORDER BY doc_id
    """,
    tags=("llm", "sampling"),
)
def l9_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: deterministic hash-based train/val/test assignment (80/10/10).

    Content-independent, order-independent, reshuffle-proof: the split of
    a document never changes when the corpus grows or repartitions —
    the property random() splits lack and training pipelines need.
    Portable md5-derived hash so the oracle agrees bit-for-bit.
    """
    d = Catalog(spark, sf_dir).documents
    h = _hash60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return d.select("doc_id", split.alias("split")).transform(ordered_static, key_bounds(sf_dir, "documents"), "doc_id")


@register(
    "l9b_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_SQL_HASH60.format(x="'samp:' || CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang FROM ranked
    WHERE rn <= CAST(ceil(n_lang * 0.1) AS BIGINT)
    ORDER BY doc_id
    """,
    tags=("llm", "sampling"),
)
def l9b_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9b: deterministic 10% stratified sample per language.

    Rank documents inside each stratum by a seeded hash (a deterministic
    permutation) and keep the top ceil(10%) — exact strata proportions,
    stable across runs and partitionings; one shuffle on the stratum key.
    """
    d = Catalog(spark, sf_dir).documents
    hcol = _hash60(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(hcol, "doc_id")
    wn = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n_lang"),
        )
        .filter(F.col("rn") <= F.ceil(F.col("n_lang") * 0.1).cast("bigint"))
        .select("doc_id", "lang")
        .transform(ordered_static, key_bounds(sf_dir, "documents"), "doc_id")
    )


@register("l2f_minhash_ml", oracle=None, bench=False, approx=True, tags=("llm", "dedup"))
def l2f_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2f (APPROX): spark.ml MinHashLSH — the library-native near-dup path.

    Shingles → sparse binary vectors (HashingTF) → MinHashLSH
    ``approxSimilarityJoin`` at Jaccard-distance ≤ 0.8. Same candidate
    semantics as the hand-rolled l2_minhash_lsh; kept as the
    library-maintained alternative (SURVEY §2B L2). Fixed seed —
    deterministic across runs.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = Catalog(spark, sf_dir).documents
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("ts"))
    tri = toks.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("ts") - 3, F.lit(0))),
            lambda i: F.concat_ws(
                " ",
                F.element_at("ts", i + 1),
                F.element_at("ts", i + 2),
                F.element_at("ts", i + 3),
            ),
        ).alias("shingles"),
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(tri)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.8, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("est_jaccard"),
        )
        .transform(ordered_static, key_bounds(sf_dir, "documents"), "doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# Driver-checkable recall gates for the APPROX dedup paths (q29b pattern:
# the checked output is the quality bound; the oracle computes the exact
# high-similarity pair count and asserts the bound true).
# ---------------------------------------------------------------------------

_HI_J = 0.7  # banding config (4 bands × 4 rows, est ≥ 0.5 cut) must recall these

_PAIR_RECALL_FLOOR = 0.8

_L2V_ORACLE = f"""
    SELECT COUNT(*) AS n_exact_hi, CAST({_PAIR_RECALL_FLOOR} AS DOUBLE) AS floor,
           TRUE AS recall_ok
    FROM ({_L2B_ORACLE}) WHERE jaccard >= {_HI_J}
"""


def _pair_recall_summary(
    approx: DataFrame, exact_hi: DataFrame, floor: float
) -> DataFrame:
    e = exact_hi.select("doc_a", "doc_b")
    a = approx.select("doc_a", "doc_b")
    hit = e.join(a, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("n_hit"))
    tot = e.agg(F.count(F.lit(1)).alias("n_exact_hi"))
    return tot.crossJoin(hit).select(
        "n_exact_hi",
        # the asserted bound is part of the checked record (round-2 advice)
        F.lit(float(floor)).alias("floor"),
        (F.col("n_hit") >= F.lit(floor) * F.col("n_exact_hi")).alias("recall_ok"),
    )


@register("l2v_minhash_recall", oracle=_L2V_ORACLE, bench=False, tags=("llm", "dedup"))
def l2v_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding must recall ≥ 0.8 of exact Jaccard ≥ 0.7 pairs
    (measured 1.0 at sf0.001/sf0.01; deterministic hashes)."""
    return _pair_recall_summary(
        l2_minhash_lsh(spark, sf_dir), _jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= _HI_J), _PAIR_RECALL_FLOOR
    )


@register("l2fv_minhash_ml_recall", oracle=_L2V_ORACLE, bench=False, tags=("llm", "dedup"))
def l2fv_minhash_ml_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.ml MinHashLSH must recall ≥ 0.8 of exact Jaccard ≥ 0.7 pairs."""
    return _pair_recall_summary(
        l2f_minhash_ml(spark, sf_dir), _jaccard_pairs(spark, sf_dir).filter(F.col("jaccard") >= _HI_J), _PAIR_RECALL_FLOOR
    )

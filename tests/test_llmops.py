"""Behavioral tests for the APPROX llmops paths (no SQL oracle possible).

- MinHash/LSH must recall planted near-duplicates (self-union with small
  perturbation = guaranteed high-Jaccard pairs).
- Sign-LSH ANN recall is measured against the exact L3 top-k.
- Multimodal decode seam: fake codec is deterministic; real codec raises.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from olr_cdc_oracle_with_dbz_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def test_minhash_recalls_planted_duplicates(spark):
    from olr_cdc_oracle_with_dbz_spark.llmops.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    # plant exact duplicates under shifted ids: pair (i, i+10000) is a dup
    dups = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text", "lang")
    both = docs.select("doc_id", "text", "lang").unionByName(dups)

    sig = minhash_signatures(both)
    rows = {r["doc_id"]: r["sig"] for r in sig.collect()}
    hits = sum(1 for i in rows if i < 10000 and rows[i] == rows.get(i + 10000))
    assert hits == len([i for i in rows if i < 10000])  # identical text → identical sig


def test_minhash_numpy_xxh64_matches_jvm(spark):
    """The vectorized permutation re-hash must be BIT-IDENTICAL to the JVM
    expression it replaced: xxhash64(lit(p), h) == hashLong(h,
    hashInt(p, 42)) for every permutation index — the r19 kernel swap is
    an arithmetic relocation, not a semantic change."""
    import numpy as np

    from olr_cdc_oracle_with_dbz_spark.functions.hashing import (
        _xxh64_int_seed,
        _xxh64_long_vec,
    )
    from olr_cdc_oracle_with_dbz_spark.llmops.dedup import _N_PERM

    # the kernel must cloudpickle BY VALUE (factory-local qualname), so the
    # Python workers never need this package on their import path — a
    # module-level qualname here regressed l2 for any driver not launched
    # from the repo root (caught at the sf1 sweep, r19)
    assert "<locals>" in _xxh64_long_vec.__qualname__

    rng = np.random.default_rng(42)
    vals = rng.integers(-(2**63), 2**63, size=500, dtype=np.int64)
    df = spark.createDataFrame([(int(v),) for v in vals], "h long")
    for p in range(0, _N_PERM, 5):
        jvm = np.array(
            [r[0] for r in df.select(F.xxhash64(F.lit(p), F.col("h"))).collect()],
            dtype=np.int64,
        )
        mine = _xxh64_long_vec(vals.view(np.uint64), _xxh64_int_seed(p)).view(np.int64)
        assert (jvm == mine).all(), f"permutation {p} diverged from JVM xxhash64"


def test_lsh_candidates_include_planted_duplicates(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(30)
    dups = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text", "lang", "source", "n_chars")
    planted = docs.unionByName(dups)
    out = str(tmp_path / "planted")
    planted.write.mode("overwrite").parquet(out)
    # write a mini sf-dir: only documents is consulted by l2
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"]:
        spark.read.parquet(f"{SF}/{t}.parquet").limit(1).write.mode("overwrite").parquet(
            str(tmp_path / f"{t}.parquet")
        )
    import shutil, os
    shutil.rmtree(str(tmp_path / "documents.parquet"), ignore_errors=True)
    os.rename(out, str(tmp_path / "documents.parquet"))

    spec = load_all()["l2_minhash_lsh"]
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in spec.spark_fn(spark, str(tmp_path)).collect()
    }
    expected = {(r["doc_id"], r["doc_id"] + 10000) for r in docs.select("doc_id").collect()}
    missed = expected - pairs
    assert not missed, f"LSH missed planted duplicate pairs: {sorted(missed)[:5]}"


def test_ann_lsh_recall_vs_exact(spark):
    reg = load_all()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in reg["l3_cosine_topk"].spark_fn(spark, SF).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in reg["l4_ann_lsh"].spark_fn(spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    # 12 tables × 8 bits + Hamming-1 query multiprobe measures 0.732 here
    # (deterministic md5 planes); the floor guards against regressions.
    assert recall >= 0.60, f"ANN recall collapsed: {recall:.3f}"


def test_matmul_bruteforce_matches_exact_topk(spark):
    reg = load_all()
    exact = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"])
        for r in reg["l3_cosine_topk"].spark_fn(spark, SF).collect()
    )
    fast = sorted(
        (r["query_id"], r["rnk"], r["neighbor_id"])
        for r in reg["l4b_bruteforce_matmul"].spark_fn(spark, SF).collect()
    )
    assert exact == fast


def test_multimodal_decode_seam(spark):
    from olr_cdc_oracle_with_dbz_spark.llmops import multimodal as M

    with pytest.raises(NotImplementedError):
        M.decode_real(b"bytes", "image/png")
    f1 = M.decode_fake(b"hello world", "text/plain")
    f2 = M.decode_fake(b"hello world", "text/plain")
    assert list(f1) == list(f2) and len(f1) == 8

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10)
    assets = M.attach_binary_asset(docs)
    frames = M.sample_frames(assets, every_n=2)
    assert frames.count() > 0
    feats = M.extract_features(assets).collect()
    assert all(len(r["features"]) == 8 for r in feats)


def test_ann_ivf_recall_vs_exact(spark):
    reg = load_all()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in reg["l3_cosine_topk"].spark_fn(spark, SF).collect()
    }
    approx_rows = reg["l4c_ann_ivf"].spark_fn(spark, SF).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    # 6-of-16 probed cells ~ 37% of the corpus scanned; near-orthogonal
    # random vectors make cells weakly informative, so the floor is the
    # probed fraction plus margin — regression guard, not a quality claim.
    # (Driver gate l4cv asserts the stronger 0.60 bound; measured .68–.76.)
    assert recall >= 0.40, f"IVF recall collapsed: {recall:.3f}"
    # every query must still return a full top-k from its probed cells
    assert len(approx_rows) == len(exact)


def _write_bmp24(px) -> bytes:
    """Independent reference BMP writer (bottom-up 24-bit BI_RGB, padded
    rows) so the decoder test doesn't trust the code under test."""
    import struct

    import numpy as np

    h, w = px.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for row in px[::-1]:  # bottom-up
        line = bytearray()
        for r, g, b in row:
            line += bytes([b, g, r])  # BGR on disk
        line += b"\x00" * (stride - len(line))
        body += line
    header = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
    return bytes(header + dib + body)


def test_multimodal_real_decode_bmp_ppm():
    """The wired pure-numpy codecs recover exact pixels from BMP and P6
    PPM payloads; unsupported formats keep the NotImplementedError seam."""
    import numpy as np

    from olr_cdc_oracle_with_dbz_spark.llmops import multimodal as M

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)  # odd width → row pad
    assert np.array_equal(M.decode_image(_write_bmp24(px), "image/bmp"), px)

    ppm = b"P6\n# a comment\n3 5\n255\n" + px.tobytes()
    assert np.array_equal(M.decode_image(ppm, "image/x-portable-pixmap"), px)

    # encode → decode round-trip
    assert np.array_equal(M.decode_image(M.encode_ppm(px), "image/ppm"), px)

    # decode_real features come from PIXELS, identical for both encodings
    f_bmp = M.decode_real(_write_bmp24(px), "image/bmp")
    f_ppm = M.decode_real(ppm, "image/x-portable-pixmap")
    assert list(f_bmp) == list(f_ppm) and len(f_bmp) == 8
    assert f_bmp[0] == px.size and f_bmp[3] == px.min() and f_bmp[4] == px.max()

    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG\r\n", "image/png")


def test_multimodal_real_codec_resize(spark):
    """use_real_codec=True drives decode→resample→re-encode through the
    distributed mapInPandas path; outputs are valid P6 with exact pixels."""
    import numpy as np

    from olr_cdc_oracle_with_dbz_spark.llmops import multimodal as M

    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8) for i in range(4)}
    assets = spark.createDataFrame(
        [(i, bytearray(_write_bmp24(p)), ("image/bmp", len(p), 4, 6)) for i, p in imgs.items()],
        f"doc_id bigint, asset binary, meta struct<{M.ASSET_META_SCHEMA}>",
    )
    out = M.resize_assets(assets, width=2, height=3, use_real_codec=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    for i, px in imgs.items():
        got = M.decode_image(bytes(rows[i]["asset"]), "image/ppm")
        yi = np.linspace(0, 5, 3).astype(np.int64)
        xi = np.linspace(0, 3, 2).astype(np.int64)
        assert np.array_equal(got, px[yi][:, xi])
        assert rows[i]["meta"]["mime"] == "image/x-portable-pixmap"
        assert rows[i]["meta"]["width"] == 2 and rows[i]["meta"]["height"] == 3


def test_multimodal_resize_contract(spark, sf_dir):
    """Resize seam: every output payload is exactly width*height bytes,
    metadata rewritten to the target shape, deterministic across runs."""
    import pyspark.sql.functions as F

    from olr_cdc_oracle_with_dbz_spark.catalog import Catalog
    from olr_cdc_oracle_with_dbz_spark.llmops.multimodal import (
        attach_binary_asset,
        resize_assets,
    )

    assets = attach_binary_asset(Catalog(spark, sf_dir).documents.limit(50))
    out = resize_assets(assets, width=8, height=4)
    rows = out.select(
        "doc_id",
        F.length("asset").alias("n"),
        "meta.width",
        "meta.height",
        F.md5("asset").alias("h"),
    ).collect()
    assert len(rows) == 50
    assert all(r["n"] == 32 and r["width"] == 8 and r["height"] == 4 for r in rows)
    again = {
        r["doc_id"]: r["h"]
        for r in resize_assets(assets, 8, 4).select("doc_id", F.md5("asset").alias("h")).collect()
    }
    assert {r["doc_id"]: r["h"] for r in rows} == again


def test_generalized_asof_join(spark, sf_dir):
    """asof_join: per-key latest right row at or before each left time —
    checked against a correlated-subquery formulation on real events."""
    import pyspark.sql.functions as F

    from olr_cdc_oracle_with_dbz_spark.catalog import Catalog
    from olr_cdc_oracle_with_dbz_spark.operators.joins import asof_join

    ev = Catalog(spark, sf_dir).events
    buys = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("buy_ts"), F.col("event_id").alias("buy_id")
    )
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    got = asof_join(buys, clicks, "user_id", "buy_ts", "click_ts").select(
        "user_id", "buy_id", "click_id"
    )
    ev.createOrReplaceTempView("ev_asof")
    want = spark.sql("""
      SELECT b.user_id, b.event_id AS buy_id,
             (SELECT MAX_BY(c.event_id, STRUCT(c.ts, c.event_id)) FROM ev_asof c
              WHERE c.event_type = 'click' AND c.user_id = b.user_id
                AND c.ts <= b.ts) AS click_id
      FROM ev_asof b WHERE b.event_type = 'purchase'
    """)
    g = {(r["user_id"], r["buy_id"]): r["click_id"] for r in got.collect()}
    w = {(r["user_id"], r["buy_id"]): r["click_id"] for r in want.collect()}
    assert len(g) == len(w) > 0
    # a tie on click_ts may surface a different event id; compare by the
    # click timestamp each side selected, which must be identical
    ts_of = {r["event_id"]: r["ts"] for r in ev.filter("event_type='click'").collect()}
    assert {k: ts_of.get(v) for k, v in g.items()} == {k: ts_of.get(v) for k, v in w.items()}


def test_ml_minhash_recalls_exact_high_jaccard_pairs(spark):
    """spark.ml MinHashLSH path must recall the exact high-similarity
    pairs (trigram Jaccard >= 0.8 from the exact l2b computation)."""
    reg = load_all()
    exact_high = {
        (r["doc_a"], r["doc_b"])
        for r in reg["l2b_ngram_jaccard"].spark_fn(spark, SF).collect()
        if r["jaccard"] >= 0.85
    }
    ml_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in reg["l2f_minhash_ml"].spark_fn(spark, SF).collect()
    }
    assert exact_high, "fixture corpus must contain planted near-dups"
    missed = exact_high - ml_pairs
    assert not missed, f"ml LSH missed high-jaccard pairs: {sorted(missed)[:5]}"


def test_ann_ml_brp_recall_vs_exact(spark):
    """spark.ml BucketedRandomProjectionLSH path: recall floor vs exact."""
    reg = load_all()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in reg["l3_cosine_topk"].spark_fn(spark, SF).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in reg["l4d_ann_ml_brp"].spark_fn(spark, SF).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"ml BRP-LSH recall collapsed: {recall:.3f}"


def test_asof_join_null_value_in_latest_right_row(spark):
    """A NULL value column in the LATEST right row must surface as NULL —
    not be back-filled from an older right row — and all carried values
    must come from the SAME right row (the as-of NULL hazard)."""
    from olr_cdc_oracle_with_dbz_spark.operators.joins import asof_join

    left = spark.createDataFrame([("k", 10)], "by string, lts int")
    right = spark.createDataFrame(
        [("k", 1, "old-price", "old-note"), ("k", 5, None, "new-note")],
        "by string, rts int, price string, note string",
    )
    got = asof_join(left, right, "by", "lts", "rts").collect()
    assert len(got) == 1
    r = got[0]
    # latest right row (rts=5) has price NULL: must stay NULL
    assert r["price"] is None and r["note"] == "new-note"

    # left row earlier than any right row: all carried values NULL
    left2 = spark.createDataFrame([("k", 0)], "by string, lts int")
    r2 = asof_join(left2, right, "by", "lts", "rts").collect()[0]
    assert r2["price"] is None and r2["note"] is None


def test_trigram_jaccard_short_docs_cross_engine(spark, tmp_path):
    """Docs with < 3 tokens emit zero shingles in BOTH engines (the
    concat_ws-vs-|| NULL divergence found in review)."""
    import duckdb
    import pandas as pd

    from olr_cdc_oracle_with_dbz_spark.registry import load_all

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "lang": ["en"] * 5,
            "text": [
                "one",                      # 1 token -> no shingles
                "two words",                # 2 tokens -> no shingles
                "alpha beta gamma delta",   # shares trigrams with 4
                "alpha beta gamma delta",   # exact dup of 3
                "zeta eta theta iota",
            ],
        }
    )
    sf = tmp_path / "shortdocs"
    sf.mkdir()
    docs.to_parquet(sf / "documents.parquet")
    spec = load_all()["l2b_ngram_jaccard"]
    got = spec.spark_fn(spark, str(sf)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = con.execute(spec.oracle).df()
    con.close()
    assert len(got) == len(want) == 1  # only the (3,4) exact-dup pair
    assert (got.doc_a.iloc[0], got.doc_b.iloc[0]) == (3, 4)
    assert got.jaccard.iloc[0] == want.jaccard.iloc[0] == 1.0


def test_l5d_re2_path_matches_java_regex_expressions(spark):
    """l5d runs its regexes through pyarrow/RE2 inside mapInPandas for
    speed; the patterns are declared Java-regex ∩ RE2 — this pins the
    claim by recomputing with codegen'd regexp_replace/regexp_extract_all
    and demanding identical rows."""
    import pyspark.sql.functions as F

    from olr_cdc_oracle_with_dbz_spark.catalog import Catalog
    from olr_cdc_oracle_with_dbz_spark.llmops.text import _EMAIL_RE, _PHONE_RE
    from olr_cdc_oracle_with_dbz_spark.plans.canonical import ordered

    d = Catalog(spark, SF).documents
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.col("doc_id").cast("string"), 7, "0"),
        F.lit(" now"),
    )
    t1 = F.regexp_replace(seeded, _EMAIL_RE, "<EMAIL>")
    want = (
        d.select(
            "doc_id",
            F.size(F.regexp_extract_all(seeded, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
            F.size(F.regexp_extract_all(t1, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
            F.md5(F.regexp_replace(t1, _PHONE_RE, "<PHONE>")).alias("clean_md5"),
        )
        .transform(ordered, "doc_id", partitions=8)
        .toPandas()
    )
    got = load_all()["l5d_redact_pii"].spark_fn(spark, SF).toPandas()
    assert got.reset_index(drop=True).astype(str).equals(want.reset_index(drop=True).astype(str))


def test_propagation_pointer_jumping_converges_in_log_rounds(spark):
    """r20: the distributed label-propagation phase pointer-jumps
    (lab(lab(v)) folded into each round), so a 64-deep path component must
    converge in O(log d) one-job rounds — plain min-propagation needs ~64.
    Also asserts the labels are exactly the component minimum."""
    import pyspark.sql.functions as F

    from olr_cdc_oracle_with_dbz_spark.llmops.dedup import _propagate_min_labels

    n = 64
    pairs = spark.range(n - 1).select(
        F.col("id").alias("s"), (F.col("id") + 1).alias("d")
    )
    raw = pairs.union(pairs.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sc = spark.sparkContext
    grp = "l2e-pointer-jump-pin"
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # 1 job per round
    try:
        sc.setJobGroup(grp, grp, interruptOnCancel=False)
        labels, connected = _propagate_min_labels(
            raw, 2 * (n - 1), edges_per_task=1_000_000
        )
        out = labels.toPandas()
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert len(out) == n
    assert (out["lab"] == 0).all()  # one component, min id 0
    # jobs in the group: edge/connected checkpoint setup + rounds (2 jobs
    # each: lineage-cut materialization + convergence sum) + toPandas.
    # Pointer jumping reaches fixpoint on a 64-chain in ~9 rounds (label
    # deficit doubles per round) → ~22 jobs; plain propagation schedules
    # ~70 (one per diameter step).
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(grp))
    assert n_jobs <= 24, f"propagation scheduled {n_jobs} jobs on a 64-chain"


def test_xxh64_bytes_kernel_matches_jvm_strings(spark):
    """The vectorized variable-length XXH64 (r20 shingle kernel) must be
    BIT-IDENTICAL to F.xxhash64(string) for arbitrary UTF-8 strings —
    every length class (empty, <4, <8, <32, stripes, tails) and multibyte
    code points. Also pins the by-value pickling qualnames."""
    import random

    import numpy as np

    from olr_cdc_oracle_with_dbz_spark.functions.hashing import (
        _xxh64_bytes_slices,
    )
    from olr_cdc_oracle_with_dbz_spark.llmops.dedup import _trigram_shingles

    assert "<locals>" in _xxh64_bytes_slices.__qualname__
    assert "<locals>" in _trigram_shingles.__qualname__

    rng = random.Random(7)
    alphabet = "abcdefghijklmnopqrstuvwxyz 0123456789ÜüßéΩ漢字🚀"
    cases = [""]
    for length in list(range(1, 70)) + [127, 128, 200, 1000]:
        cases.append("".join(rng.choice(alphabet) for _ in range(length)))
    jvm = [
        r[0]
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select(F.xxhash64("s"))
        .collect()
    ]
    bs = [c.encode("utf-8") for c in cases]
    data = np.frombuffer(b"".join(bs), dtype=np.uint8)
    lens = np.array([len(b) for b in bs], np.int64)
    starts = np.zeros(len(bs), np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    ours = _xxh64_bytes_slices(data, starts, lens, 42).view(np.int64)
    assert [int(v) for v in ours] == jvm


def test_trigram_kernel_matches_jvm_shingle_chain(spark):
    """The fused mapInArrow trigram stage (r20, trigram_shingle_rows) must
    emit exactly the rows of the JVM chain it replaced — split(lower(text))
    → per-window concat_ws+xxhash64 → array_distinct → explode, with the
    per-doc distinct count — including the degenerate shapes: empty text,
    <3 tokens, consecutive/leading spaces, NULL text/lang, multibyte."""
    from olr_cdc_oracle_with_dbz_spark.llmops.dedup import trigram_shingle_rows

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    extra = spark.createDataFrame(
        [
            (90001, "", "en"),
            (90002, "one two", "en"),
            (90003, "a  b  c", "en"),
            (90004, None, "en"),
            (90005, "Ü ß 漢字 x🚀y z", "de"),
            (90006, "  ", "en"),
            (90007, "a b c d e", None),
            (90008, " a b", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    both = docs.unionByName(extra)

    toks = both.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("ts")
    ).filter(F.size("ts") >= 3)
    old = (
        toks.select(
            "doc_id",
            "lang",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("ts") - 3),
                    lambda i: F.xxhash64(
                        F.concat_ws(
                            " ",
                            F.element_at("ts", i + 1),
                            F.element_at("ts", i + 2),
                            F.element_at("ts", i + 3),
                        )
                    ),
                )
            ).alias("sh"),
        )
        .select(
            "doc_id",
            "lang",
            F.coalesce(F.size("sh"), F.lit(0)).alias("sz"),
            F.explode("sh").alias("shingle"),
        )
        .toPandas()
        .sort_values(["doc_id", "shingle"])
        .reset_index(drop=True)
        .astype({"sz": "int64"})
    )
    new = (
        trigram_shingle_rows(both)
        .toPandas()
        .sort_values(["doc_id", "shingle"])
        .reset_index(drop=True)
        .astype({"sz": "int64"})
    )
    assert old.equals(new)


def test_fixedlist_matrix_non_list_layouts_match_vstack():
    """The zero-copy path reads int32 list offsets, so it must only run on
    ``list<float>``. ``large_list`` (int64 offsets) and ``fixed_size_list``
    (no offsets buffer) take the vstack path and match it exactly, sliced
    or not."""
    import numpy as np
    import pyarrow as pa

    from olr_cdc_oracle_with_dbz_spark.llmops.similarity import _fixedlist_matrix

    rows = [[1.5, -2.0, 3.25], [0.0, 4.0, -0.5], [7.0, 8.0, 9.0], [1.0, 2.0, 3.0]]
    want = np.vstack([np.asarray(r, dtype=np.float64) for r in rows])
    for vt in (pa.float32(), pa.float64()):
        for typ in (pa.list_(vt), pa.large_list(vt), pa.list_(vt, 3)):
            arr = pa.array(rows, type=typ)
            got = _fixedlist_matrix(arr)
            assert got.dtype == np.float64 and (got == want).all(), typ
            assert (_fixedlist_matrix(arr.slice(1, 2)) == want[1:3]).all(), typ
            chunked = pa.chunked_array([arr.slice(0, 1), arr.slice(1)])
            assert (_fixedlist_matrix(chunked) == want).all(), typ


def test_propagation_releases_superseded_label_checkpoints(spark):
    """Each propagation round cuts lineage with a localCheckpoint; once the
    next round's cut is materialized the previous one is released, so the
    persisted RDDs left behind are the edge list, the connected nodes and
    the final labels, not one label copy per round."""
    import pyspark.sql.functions as F

    from olr_cdc_oracle_with_dbz_spark.llmops.dedup import _propagate_min_labels

    n = 64
    pairs = spark.range(n - 1).select(
        F.col("id").alias("s"), (F.col("id") + 1).alias("d")
    )
    raw = pairs.union(pairs.select(F.col("d").alias("s"), F.col("s").alias("d")))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    labels, _connected = _propagate_min_labels(
        raw, 2 * (n - 1), edges_per_task=1_000_000
    )
    assert (labels.toPandas()["lab"] == 0).all()
    # a 64-chain takes ~7 rounds; without the release every round's label
    # checkpoint would still be persisted here
    assert jsc.getPersistentRDDs().size() - before <= 3

"""Round-17 optimization equivalence pins.

Each test pins an internals change of this optimization round to the exact
semantics the slower form had, so a future refactor cannot silently drift:

- the partition-level block-pairs kernel (sim_pair_dedup_lsh) must emit the
  same pair set as the per-group applyInPandas it replaced, including when a
  block straddles an Arrow batch boundary;
- the string-expression minhash builders must produce the same signature
  values as the Column-arithmetic forms they replaced;
- the shared MinHash-LSH kernel's 8×4 banding must count the same candidate
  pairs as dedup_lsh_band_tuning's fused (8, 4) configuration.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _blocked_fixture(spark, sf_small):
    """The (vec_id, embedding, tbl, bkt) relation sim_pair_dedup_lsh blocks
    on, built exactly as the operator builds it."""
    import numpy as np

    from ai_dataingestion_spark.ai.similarity import (
        _PAIR_LSH_BITS,
        _PAIR_LSH_TABLES,
        _dup_injected_corpus,
        _hyperplanes,
    )

    P = np.array(
        _hyperplanes(_PAIR_LSH_TABLES * _PAIR_LSH_BITS), dtype="float64"
    )
    weights = (1 << np.arange(_PAIR_LSH_BITS)).astype("int64")

    def bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            bits = (B @ P.T) > 0
            bkts = (
                bits.reshape(len(B), _PAIR_LSH_TABLES, _PAIR_LSH_BITS)
                @ weights
            )
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "buckets": list(bkts),
                }
            )

    corpus = _dup_injected_corpus(spark, sf_small)
    sigs = corpus.mapInPandas(
        bucketize, "vec_id bigint, embedding array<float>, buckets array<bigint>"
    )
    return sigs.select(
        "vec_id", "embedding", F.posexplode("buckets").alias("tbl", "bkt")
    )


def _pairs_df_to_sorted(df):
    return (
        df.groupBy("id1", "id2")
        .agg(F.max("cos").alias("cos"))
        .toPandas()
        .sort_values(["id1", "id2"])
        .reset_index(drop=True)
    )


def test_partition_kernel_matches_grouped_kernel(spark, sf_small):
    """The r17 mapInPandas partition walk must emit exactly the pair set of
    the per-group applyInPandas it replaced."""
    from ai_dataingestion_spark.ai.similarity import (
        _block_pairs_kernel,
        _block_pairs_partition_kernel,
    )

    blocked = _blocked_fixture(spark, sf_small)
    grouped = blocked.groupBy("tbl", "bkt").applyInPandas(
        _block_pairs_kernel, "id1 bigint, id2 bigint, cos double"
    )
    walked = (
        blocked.repartition("tbl", "bkt")
        .sortWithinPartitions("tbl", "bkt")
        .mapInPandas(
            _block_pairs_partition_kernel, "id1 bigint, id2 bigint, cos double"
        )
    )
    a = _pairs_df_to_sorted(grouped)
    b = _pairs_df_to_sorted(walked)
    assert len(a) > 0, "fixture produced no pairs — test is vacuous"
    pd.testing.assert_frame_equal(a, b)


def test_partition_kernel_handles_batch_straddling_groups(spark, sf_small):
    """A block split across Arrow batches must be re-assembled, not scored
    as two half-blocks (pairs whose members land in different halves would
    silently vanish). Forced by shrinking maxRecordsPerBatch below the
    typical block size."""
    from ai_dataingestion_spark.ai.similarity import (
        _block_pairs_kernel,
        _block_pairs_partition_kernel,
    )

    blocked = _blocked_fixture(spark, sf_small)
    grouped = blocked.groupBy("tbl", "bkt").applyInPandas(
        _block_pairs_kernel, "id1 bigint, id2 bigint, cos double"
    )
    expected = _pairs_df_to_sorted(grouped)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")  # every multi-row block straddles batches
    try:
        walked = (
            blocked.repartition("tbl", "bkt")
            .sortWithinPartitions("tbl", "bkt")
            .mapInPandas(
                _block_pairs_partition_kernel,
                "id1 bigint, id2 bigint, cos double",
            )
        )
        got = _pairs_df_to_sorted(walked)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    pd.testing.assert_frame_equal(expected, got)


def test_cw_sig_string_exprs_match_column_arithmetic(spark, sf_small):
    """The one-parse-per-hash Carter-Wegman aggregates (r17 driver-build
    rewrite) must produce bit-identical signatures to the Column-arithmetic
    loop they replaced."""
    from ai_dataingestion_spark.ai.dedup import (
        _CW_A,
        _CW_B,
        _MERSENNE_P,
        _SHINGLES_EXPR,
        _corpus_with_near_dups,
        _cw_sig_agg_exprs,
        _spark_h,
        N_HASHES,
    )

    corpus = _corpus_with_near_dups(spark, sf_small).withColumn(
        "toks", F.split("text", " ")
    )
    hm = (
        corpus.selectExpr("doc_id", f"{_SHINGLES_EXPR} AS shingles")
        .selectExpr("doc_id", "explode(shingles) AS shingle")
        .selectExpr("doc_id", f"{_spark_h('shingle')} % {_MERSENNE_P} AS hm")
    )
    new = hm.groupBy("doc_id").agg(*_cw_sig_agg_exprs())
    old = hm.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_CW_A[i]) * F.col("hm") + F.lit(_CW_B[i])) % _MERSENNE_P
            ).alias(f"h{i}")
            for i in range(N_HASHES)
        ]
    )
    a = new.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = old.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(a) > 0
    pd.testing.assert_frame_equal(a, b)


def test_simhash_string_exprs_match_column_arithmetic(spark, sf_small):
    """The parsed-SQL simhash vote/chunk builders (r17 driver-build rewrite)
    must produce bit-identical signatures to the Column loops they replaced
    (shiftright/bitwiseAND/when votes; per-bit when-sum chunks)."""
    from ai_dataingestion_spark.ai.dedup import (
        _SIMHASH_CHUNKS_EXPR,
        _corpus_with_exact_dups,
        _simhash_vote_agg_exprs,
    )

    corpus = _corpus_with_exact_dups(spark, sf_small)
    tok_hash = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substring(md5(tok), {c * 4 + 1}, 4), 16, 10)"
                " AS BIGINT)"
            ).alias(f"hc{c}")
            for c in range(4)
        ],
    )
    new = (
        tok_hash.groupBy("doc_id")
        .agg(*_simhash_vote_agg_exprs())
        .selectExpr("doc_id", f"{_SIMHASH_CHUNKS_EXPR} AS chunks")
    )
    old_votes = tok_hash.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"hc{b // 16}"), b % 16).bitwiseAND(1)
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    chunk_exprs = [
        sum(
            [
                F.when(F.col(f"v{c * 16 + b}") > 0, F.lit(1 << b)).otherwise(0)
                for b in range(16)
            ],
            F.lit(0),
        )
        .cast("long")
        .alias(f"c{c}")
        for c in range(4)
    ]
    old = old_votes.select("doc_id", F.array(*chunk_exprs).alias("chunks"))
    a = new.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = old.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert len(a) > 0
    a["chunks"] = a["chunks"].map(list)
    b["chunks"] = b["chunks"].map(list)
    pd.testing.assert_frame_equal(a, b)


def test_mmr_cos_string_expr_matches_column_form(spark, sf_small):
    """embed_mmr_select's one-parse cosine (r17 driver-build rewrite) must
    produce bit-identical 9dp-rounded similarities to the Column/lambda
    form it replaced, for an arbitrary literal query vector."""
    from ai_dataingestion_spark.functions.portable import finite_vec
    from ai_dataingestion_spark.registry import Tables

    e = (
        Tables(spark, sf_small)
        .embeddings.where(finite_vec("embedding"))
        .limit(50)
    )
    q_vec = [float(x) for x in e.first()["embedding"]]

    def old_cos(col_vec, lit_vec):
        arr = F.array(*[F.lit(float(x)) for x in lit_vec])
        dot = F.aggregate(
            F.zip_with(col_vec, arr, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        na = F.sqrt(
            F.aggregate(
                col_vec,
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        )
        nb = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x))
        return F.floor(dot / (na * nb) * 10**9 + 0.5) / 10**9

    arr_sql = "array({})".format(
        ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in q_vec)
    )
    dot = (
        f"aggregate(zip_with(embedding, {arr_sql},"
        " (x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
    )
    na = (
        "sqrt(aggregate(embedding, 0.0D,"
        " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )
    nb = f"sqrt(aggregate({arr_sql}, 0.0D, (acc, x) -> acc + x * x))"
    new_col = F.expr(
        f"floor({dot} / ({na} * {nb}) * 1000000000 + 0.5D) / 1000000000"
    )
    got = (
        e.select(
            "vec_id",
            old_cos(F.col("embedding"), q_vec).alias("old"),
            new_col.alias("new"),
        )
        .toPandas()
        .sort_values("vec_id")
    )
    assert len(got) > 0
    assert (got["old"].values == got["new"].values).all()


def test_pool_kernel_empty_batch_and_slice_bound():
    """ADVICE-r16 #1/#2 pins: an EMPTY input batch yields nothing (the
    mapInPandas caller concatenates yielded frames, so absent == empty),
    and the slice-bounded kernel emits byte-identical rows to an unbounded
    single-slice pass even when the slice cap forces one-row slices."""
    import numpy as np

    import ai_dataingestion_spark.ai.multimodal as mm

    # empty batch -> no yields
    empty = pd.DataFrame({"doc_id": [], "payload": []})
    assert list(mm._pool_batches(iter([empty]))) == []

    rng = np.random.default_rng(11)
    payloads = [
        rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        for n in (0, 7, 4096, 16, 333, 1)
    ]
    pdf = pd.DataFrame({"doc_id": range(len(payloads)), "payload": payloads})
    one_slice = pd.concat(list(mm._pool_batches(iter([pdf])))).reset_index(
        drop=True
    )
    old_cap = mm._POOL_SLICE_BYTES
    mm._POOL_SLICE_BYTES = 8  # every multi-byte payload becomes its own slice
    try:
        sliced = pd.concat(list(mm._pool_batches(iter([pdf])))).reset_index(
            drop=True
        )
    finally:
        mm._POOL_SLICE_BYTES = old_cap
    assert (
        one_slice.astype("int64").values.tolist()
        == sliced.astype("int64").values.tolist()
    )


def test_band_tuning_threshold_literals_are_doubles(spark, sf_small):
    """The stack()-literal config frame must keep threshold_50 a DOUBLE —
    a bare SQL decimal literal parses as DECIMAL and would change the
    declared output schema the oracle hashes (caught in prototyping; the
    D suffix is load-bearing)."""
    from ai_dataingestion_spark.catalog import all_specs

    df = all_specs()["dedup_lsh_band_tuning"].fn(spark, sf_small)
    field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert field["threshold_50"] == "double"
    assert field["n_candidate_pairs"] == "bigint"


def test_minhash_kernel_candidates_match_band_tuning_8x4(spark, sf_small):
    """Two spellings of one banding family: the kernel's 8×4 candidate
    pairs (minhash_candidates — what dedup_near_minhash,
    dedup_eval_precision_recall and dedup_removal_plan verify) and
    dedup_lsh_band_tuning's fused (8, 4) configuration must count the same
    distinct pairs, else the two bandings have diverged."""
    from ai_dataingestion_spark.ai.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
        _corpus_with_near_dups,
        minhash_candidates,
        minhash_signature,
        shingle_sets,
    )
    from ai_dataingestion_spark.catalog import all_specs
    from ai_dataingestion_spark.opcache import release_op_caches

    tuned = {
        (r["bands"], r["rows_per_band"]): r["n_candidate_pairs"]
        for r in all_specs()["dedup_lsh_band_tuning"].fn(spark, sf_small).collect()
    }
    try:
        docs = shingle_sets(_corpus_with_near_dups(spark, sf_small))
        n_kernel = minhash_candidates(minhash_signature(docs), sf_small).count()
    finally:
        release_op_caches()
    assert n_kernel > 0, "fixture produced no candidates — test is vacuous"
    assert tuned[(N_BANDS, ROWS_PER_BAND)] == n_kernel

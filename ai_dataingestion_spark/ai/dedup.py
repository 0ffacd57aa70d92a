"""Deduplication operators for LLM training-data pipelines (§2.K + extras):
exact (hash), MinHash+LSH, SimHash, and n-gram Jaccard near-dup detection.

The measured corpus has zero exact/near duplicates (FIXTURES.md), so each
operator unions the documents table with a deterministically mutated copy of
itself inside the query — a self-contained fixture the oracle can mirror.

Scale posture: every near-dup algorithm here is candidate-generation via a
key-equality join (LSH band bucket / simhash chunk / rare shingle) followed
by exact verification on the candidate pairs only. Nothing is O(n²) over the
corpus; the shuffles are on bucket keys.

This module is also the near-dup kernel every shingle-set operator calls,
one function per stage: ``shingle_sets`` (the op_cached 3-token shingle
sets), ``minhash_signature``/``minhash_candidates`` (Carter-Wegman
signatures, 8×4 banding), ``rare_shingle_pairs`` (DF-capped rare-shingle
index → per-pair common-shingle counts) and ``shingle_pair_sides`` (the
verify join that attaches both shingle sets to candidate pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ai_dataingestion_spark.catalog import register
from ai_dataingestion_spark.opcache import op_cache
from ai_dataingestion_spark.registry import Tables
from ai_dataingestion_spark.scale import (
    ARRAY_TABLE_BYTES,
    bounded_self_join,
    hint_array_side,
    hint_merge_if_large,
    table_bytes_under,
)

# MinHash constants (FIXTURES.md): 3-token shingles, 32 seeds, 8 bands x 4 rows.
SHINGLE_K = 3
N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = 4

_DUP_OFFSET = 1_000_000

# Absolute document-frequency cap of the rare-shingle index (see
# dedup_ngram_jaccard's recall contract for why it is not corpus-relative).
RARE_SHINGLE_CAP = 50


def _corpus_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies of even-id docs (ids offset by 1e6)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


def _corpus_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies of every 5th doc (last token dropped) —
    Jaccard vs the original ≈ (n-3)/n on 3-token shingles, well above any
    near-dup threshold for realistic lengths."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    toks = F.split("text", " ")
    # The >= 2 guard pins the degenerate case: dropping a single-token
    # document's only token leaves NO text — Spark's array_join([]) is ''
    # but the oracles' array_to_string([]) is NULL, so without the guard
    # the two engines disagree on whether the mutated doc exists at all
    # (found by the null tier via its empty-text rows).
    mutated = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
        F.when(
            F.size(toks) >= 2,
            F.array_join(F.slice(toks, 1, F.size(toks) - 1), " "),
        ).alias("text"),
    )
    return d.unionByName(mutated)


# The explicit NULL branch is load-bearing: Spark's size(NULL) is -1 (legacy
# sizeOfNull) and concat_ws(' ', NULL) is '' — without it a NULL document
# mints the [''] shingle set, identical signatures, and every NULL doc pairs
# with every other (found by the null-injected tier: 238 phantom pairs).
# DuckDB's list ops NULL-propagate, so the oracles already exclude them.
_SHINGLES_EXPR = f"""
CASE WHEN toks IS NULL THEN NULL
     ELSE array_distinct(transform(
       sequence(1, greatest(size(toks) - {SHINGLE_K - 1}, 1)),
       i -> concat_ws(' ', slice(toks, i, {SHINGLE_K}))
     ))
END
"""


# Engine-portable 60-bit hash: the first 15 hex chars of md5, parsed as an
# int64. md5 is bit-identical across Spark and DuckDB (verified incl.
# unicode), so minhash/simhash signatures built on it are oracle-checkable
# end-to-end — unlike xxhash64, which has no DuckDB twin and forced these
# operators into rows-only verification through round 3.
def _spark_h(s: str) -> str:
    return f"CAST(conv(substring(md5({s}),1,15),16,10) AS BIGINT)"


def _duck_h(s: str) -> str:
    return f"CAST('0x'||substring(md5({s}),1,15) AS BIGINT)"


# Documents-parquet bytes under which _rare_shingle_index may statically
# broadcast its hot-hash/rescued relations: at 256 MiB of documents their
# size bound (shingle_rows / cap) is ~1M hashes / ~8 MB.
_SMALL_CORPUS_BYTES = 256 * 1024 * 1024


def _rare_shingle_index(inv: DataFrame, sf_dir: str) -> DataFrame:
    """(doc_id, h) rows of shingles whose STRING-level document frequency
    is <= cap (RARE_SHINGLE_CAP), computed from 8-byte hash keys:
    hash-count <= cap implies every underlying string is rare (hash count
    >= string DF), so those rows enter with no string work; only HOT
    hashes (count > cap — the Zipf head) are re-counted at string level,
    and strings that prove rare are rescued, so a 64-bit collision can
    never silently drop a rare shingle. `inv` must have (doc_id, sh, h)
    columns. The index stage of rare_shingle_pairs; its equivalence to a
    pure string-level DF cap is proven on the real corpus in
    tests/test_plans.py::test_rescue_path_matches_string_level_cap.

    Join strategy (ADVICE r4): hot_h/rescued cardinality is bounded by
    total_rows / cap — small at bench scale but LINEAR in the corpus
    (~2e10 entries at 1e12 shingle rows), so an UNCONDITIONAL F.broadcast
    hint is not scale-safe. Instead an O(1) driver-side gate decides:
    documents parquet bytes on a LOCAL ``sf_dir`` provably under
    _SMALL_CORPUS_BYTES (scale.table_bytes_under). When the corpus is
    provably tiny the hint is applied — without it, the tuned bench config
    (AQE off) sort-merges these joins and dedup_ngram_jaccard regressed
    2.79 s -> 5.89 s at sf0.1 — and at lake scale, on non-local paths or
    on a stat failure the gate fails closed, leaving the production config
    (AQE on, session.py) to measure the built side at runtime and
    broadcast iff actually small.

    Residual collision semantics: a rescued-index JOIN on h can count two
    DIFFERENT strings sharing a 64-bit hash as one common shingle, so the
    hash-level n_common a caller derives is >= the string-level count —
    candidate prefilters built on it ADMIT extra pairs (caught by the
    callers' exact string-level verify) and never drop; the one divergence
    vs a string-level oracle is a pair the oracle's prefilter blocks but a
    collision-inflated count admits AND that then passes exact verify —
    requiring a same-hash different-string collision between two docs'
    shingle sets (p ~ 2^-64 per pair; zero observed, would surface as a
    driver hash mismatch)."""
    cap = RARE_SHINGLE_CAP
    small_corpus = table_bytes_under(sf_dir, "documents", _SMALL_CORPUS_BYTES)
    hash_df = inv.groupBy("h").agg(F.count(F.lit(1)).alias("hcnt"))
    rare_h = hash_df.filter(F.col("hcnt") <= cap).select("h")
    hot_h = hash_df.filter(F.col("hcnt") > cap).select("h")
    if small_corpus:
        hot_h = F.broadcast(hot_h)
    rescued = (
        inv.join(hot_h, "h")
        .groupBy("sh", "h")
        .agg(F.count(F.lit(1)).alias("scnt"))
        .filter(F.col("scnt") <= cap)
        .select("sh", "h")
    )
    if small_corpus:
        rescued = F.broadcast(rescued)
    # rare_h is ~all distinct shingles — never broadcast it
    return inv.join(rare_h, "h").select("doc_id", "h").unionByName(
        inv.join(rescued, ["sh", "h"]).select("doc_id", "h")
    )


@register(
    "dedup_exact",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET}, text FROM documents WHERE doc_id % 2 = 0
),
hashed AS (SELECT doc_id, sha256(text) AS text_sha FROM corpus),
ranked AS (
  SELECT doc_id, text_sha,
         row_number() OVER (PARTITION BY text_sha ORDER BY doc_id) AS rn,
         count(*)     OVER (PARTITION BY text_sha)                 AS n_copies
  FROM hashed
)
SELECT doc_id AS keep_id, text_sha, n_copies FROM ranked WHERE rn = 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on SHA-256(text): keep the lowest doc_id per hash, report
    copy counts. The hash window shuffles one row per document on the digest
    — uniform keys, no skew, the canonical 100 TB exact-dedup plan."""
    corpus = _corpus_with_exact_dups(spark, sf_dir)
    hashed = corpus.select("doc_id", F.sha2("text", 256).alias("text_sha"))
    w = Window.partitionBy("text_sha")
    ranked = hashed.select(
        "doc_id",
        "text_sha",
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_copies"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        F.col("doc_id").alias("keep_id"), "text_sha", "n_copies"
    )


# Carter-Wegman universal hashing over one base digest: h_i(x) =
# (A_i * (H(x) % P) + B_i) % P with P = 2^31 - 1 (Mersenne). ONE md5 per
# shingle row instead of N_HASHES — the hash work in the signature map
# stage drops 32x, and every product stays < 2^62 so the arithmetic is
# overflow-identical in Spark (silent-wrap) and DuckDB (which would ERROR
# on int64 overflow — staying in-range is what makes this portable).
_MERSENNE_P = (1 << 31) - 1
_CW_A = [(i * 2654435761 + 104729) % _MERSENNE_P or 1 for i in range(N_HASHES)]
_CW_B = [(i * 40503 + 7919) % _MERSENNE_P for i in range(N_HASHES)]


def _minhash_band_bucket(prefix: str, b: int, r: int = ROWS_PER_BAND) -> str:
    """Band-bucket combine (both dialects): polynomial roll of band b's r
    minhash values — each value < 2^31, so ((((b*31+h)*31+h)...) stays well
    under 2^63 with 31-ary rolling mod P per step, overflow-free in both
    engines."""
    expr = str(b)
    for k in range(r):
        expr = f"(({expr}) * 31 + {prefix}{b * r + k}) % {_MERSENNE_P}"
    return f"CAST({expr} AS BIGINT)"


def _cw_sig_agg_exprs() -> list:
    """The N_HASHES Carter-Wegman min-hash aggregates, each as ONE parsed
    SQL expression (optimization r17, guide §5 driver-side work): the
    original per-term Column arithmetic (lit*col+lit)%P issued ~5 py4j
    round trips per hash — and every intermediate Column triggers eager
    re-analysis of the growing plan — measuring ~0.5 s of pure driver-side
    DataFrame-BUILD time per invocation at 32 hashes. One F.expr per hash
    is one parse call; the parsed tree (int literals * bigint hm, silent
    wrap, every product < 2^62) is semantically identical to the Column
    form, and the SQL text matches the DuckDB oracles' term for term."""
    return [
        F.expr(f"min(({_CW_A[i]} * hm + {_CW_B[i]}) % {_MERSENNE_P}) AS h{i}")
        for i in range(N_HASHES)
    ]


# ---------------------------------------------------------------------------
# The near-dup kernel, one stage per function, shared by every shingle-set
# operator: the MinHash operators (dedup_near_minhash,
# dedup_eval_precision_recall, dedup_minhash_estimate_error,
# dedup_lsh_band_tuning, dedup_removal_plan), the rare-shingle operators
# (dedup_ngram_jaccard, text_containment_pairs) and the DF-spectrum
# operators (text_shingle_df_spectrum, text_shingle_df_cap_loss).
# Each MinHash stage is one parsed SQL string (optimization r17): the
# per-term Column loops (32 CW aggregates, 8 band structs) cost ~0.5 s of
# py4j round trips + eager per-step re-analysis per invocation. Caching the
# signature, the size prefilters and the similarity expression stay with
# the callers, whose plans differ there.
# ---------------------------------------------------------------------------


def shingle_sets(corpus: DataFrame) -> DataFrame:
    """(doc_id, shingles) of a (doc_id, text) corpus, op_cached: exploding a
    generator whose input is the shingle transform over the corpus UNION
    re-evaluates the tokenization pathologically (measured 60+ s/pass vs
    0.3 s from cache on the extremes tier's giant docs, round 10), and the
    same relation feeds the callers' candidate stage and exact verify."""
    return (
        corpus.withColumn("toks", F.split("text", " "))
        .selectExpr("doc_id", f"{_SHINGLES_EXPR} AS shingles")
        .transform(op_cache)
    )


def minhash_signature(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N_HASHES-1}) from shingle_sets output: ONE
    portable md5-derived base hash per shingle, then the Carter-Wegman
    minimums — one shuffle, on doc_id."""
    return (
        docs.selectExpr("doc_id", "explode(shingles) AS shingle")
        .selectExpr("doc_id", f"{_spark_h('shingle')} % {_MERSENNE_P} AS hm")
        .groupBy("doc_id")
        .agg(*_cw_sig_agg_exprs())
    )


def minhash_candidates(sig: DataFrame, sf_dir: str) -> DataFrame:
    """Distinct (id1 < id2) pairs sharing a band bucket: N_BANDS ×
    ROWS_PER_BAND banding as ONE inline() over the band structs, then the
    shared bounded pair generator (scale.py) — unhinted/estimator-driven at
    provably-small corpus bytes, spillable sort-merge once the text-derived
    banded relation stops being provably tiny."""
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bucket', {_minhash_band_bucket('h', b)})"
        for b in range(N_BANDS)
    )
    banded = sig.selectExpr("doc_id", f"inline(array({band_structs}))")
    return bounded_self_join(
        banded, ["band", "bucket"], "doc_id", sf_dir, "documents",
        gate=ARRAY_TABLE_BYTES,
    ).distinct()


def rare_shingle_pairs(
    docs: DataFrame,
    sf_dir: str,
    *,
    out: tuple[str, str] = ("id1", "id2"),
    ordered: bool = True,
) -> DataFrame:
    """(out[0], out[1], n_common) for doc pairs sharing >= 1 rare shingle
    (string DF <= RARE_SHINGLE_CAP — the skew guard: hot shingles would
    otherwise blow the self-join up quadratically), from shingle_sets
    output. The index/self-join phase runs on xxhash64(shingle) — 8-byte
    shuffle keys instead of ~30-byte shingle strings through the widest
    joins — and _rare_shingle_index keeps the DF cap string-exact (the
    oracles' definition) by re-counting only the hot-hash sliver.
    n_common is the integer the callers' size prefilters compare against
    shingle-set sizes, so most raw candidates die before any array work.
    ``out``/``ordered`` pass straight to bounded_self_join: ordered pairs
    (a < b) for symmetric similarity, both directions for containment."""
    inv = docs.select("doc_id", F.explode("shingles").alias("sh")).select(
        "doc_id", "sh", F.xxhash64("sh").alias("h")
    )
    rare = _rare_shingle_index(inv, sf_dir)
    return (
        bounded_self_join(
            rare, ["h"], "doc_id", sf_dir, "documents",
            gate=ARRAY_TABLE_BYTES, out=out, ordered=ordered,
        )
        .groupBy(*out)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def shingle_pair_sides(
    pairs: DataFrame,
    docs: DataFrame,
    sf_dir: str,
    ids: tuple[str, str] = ("id1", "id2"),
    hint=hint_array_side,
) -> DataFrame:
    """The verify join: ``pairs`` with both docs' shingle sets attached as
    sh1 (keyed on ids[0]) and sh2 (ids[1]), from shingle_sets output. The
    shingle-ARRAY sides are never estimator-driven — Catalyst sizes a
    narrow projection of the cached relation and under-counts the arrays
    (measured at 10x sf0.1: a driver-OOM broadcast build) — so each side
    goes through ``hint`` (scale.py) at the 1 MiB array-table gate:
    hint_array_side (shuffle-hash while documents is provably tiny,
    spillable sort-merge after) or hint_merge_if_large (estimator-driven
    below the gate, sort-merge above). The two plan differently at sf0.1,
    so the hint stays the caller's choice."""
    for id_col, sh_col in zip(ids, ("sh1", "sh2")):
        side = docs.select(
            F.col("doc_id").alias(id_col), F.col("shingles").alias(sh_col)
        )
        pairs = pairs.join(
            hint(side, sf_dir, "documents", ARRAY_TABLE_BYTES), id_col
        )
    return pairs


def _simhash_vote_agg_exprs() -> list:
    """dedup_simhash's 64 per-bit vote aggregates, each ONE parsed SQL
    expression (the _cw_sig_agg_exprs driver-build rewrite applied to the
    simhash family): the Column loop — shiftright/bitwiseAND/when per bit —
    issued ~6 py4j round trips per bit with eager re-analysis per
    intermediate. IF(cond, 1, -1) is exactly when(cond, 1).otherwise(-1):
    a NULL condition takes the ELSE branch in both forms."""
    return [
        F.expr(
            f"sum(IF((shiftright(hc{b // 16}, {b % 16}) & 1) = 1, 1, -1))"
            f" AS v{b}"
        )
        for b in range(64)
    ]


# The four 16-bit signature chunks from the vote columns, one parsed
# expression: bit b of chunk c is set iff vote v{16c+b} is positive. Integer
# IF-sums per chunk stay under 2^16, cast to BIGINT exactly as the Column
# form's .cast("long") did.
_SIMHASH_CHUNKS_EXPR = "array({})".format(
    ", ".join(
        "CAST("
        + " + ".join(f"IF(v{c * 16 + b} > 0, {1 << b}, 0)" for b in range(16))
        + " AS BIGINT)"
        for c in range(4)
    )
)


_MINHASH_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1)
  FROM documents WHERE doc_id % 5 = 0
),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_K - 2}, 2)),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')
         )) AS shingles
  FROM corpus
),
sp AS (SELECT doc_id, {_duck_h("shingle")} % {_MERSENNE_P} AS hm
       FROM (SELECT doc_id, unnest(shingles) AS shingle FROM shingled)),
sig AS MATERIALIZED (
  SELECT doc_id,
         {", ".join("min((%d * hm + %d) %% %d) AS h%d" % (_CW_A[i], _CW_B[i], _MERSENNE_P, i) for i in range(N_HASHES))}
  FROM sp GROUP BY doc_id
),
banded AS (
  {" UNION ALL ".join("SELECT doc_id, %d AS band, %s AS bucket FROM sig" % (b, _minhash_band_bucket("h", b)) for b in range(N_BANDS))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id1, id2,
       CAST(len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))
            AS DOUBLE) /
       (len(s1.shingles) + len(s2.shingles)
        - len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s))))
         AS jaccard
FROM cand
JOIN shingled s1 ON s1.doc_id = id1
JOIN shingled s2 ON s2.doc_id = id2
WHERE CAST(len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))
           AS DOUBLE) /
      (len(s1.shingles) + len(s2.shingles)
       - len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s))))
        >= 0.6
"""


@register("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup pairs (Broder 1997), DataFrame-pure:

    3-token shingles → ONE portable md5-derived base hash per shingle →
    32 minhash values via Carter-Wegman affine transforms mod 2³¹−1
    (cheap int math replaces 32 per-row digests) → 8 bands × 4 rows →
    band-bucket self-join for candidates → exact Jaccard verify on
    candidate pairs → pairs ≥ 0.6. Every step is engine-portable, so the
    whole pipeline — signatures, banding, candidates, verification — is
    oracle-verified end-to-end (rows-only until round 4).

    Deliberately NOT pyspark.ml's MinHashLSH: plain expressions keep the
    hash deterministic and Catalyst in charge of the joins. The only
    shuffles are groupBy(doc_id) for signatures and the (band, bucket)
    equality join — candidate verification touches candidate pairs only.
    """
    docs = shingle_sets(_corpus_with_near_dups(spark, sf_dir))
    cand = minhash_candidates(minhash_signature(docs), sf_dir)
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = F.size(F.array_union("sh1", "sh2")).cast("double")
    return (
        shingle_pair_sides(cand, docs, sf_dir)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.6)
        .select("id1", "id2", "jaccard")
    )


def _simhash_votes_duck() -> str:
    """64 per-bit vote aggregates: bit b of the signature comes from bit
    b%16 of the portable chunk-seeded hash hc{b//16}."""
    return ", ".join(
        "sum(CASE WHEN (hc%d >> %d) & 1 = 1 THEN 1 ELSE -1 END) AS v%d"
        % (b // 16, b % 16, b)
        for b in range(64)
    )


def _simhash_chunk_duck(c: int) -> str:
    terms = " + ".join(
        "CASE WHEN v%d > 0 THEN %d ELSE 0 END" % (c * 16 + b, 1 << b)
        for b in range(16)
    )
    return f"CAST({terms} AS BIGINT)"


_SIMHASH_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET}, text FROM documents WHERE doc_id % 2 = 0
),
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
th AS (
  SELECT doc_id,
         {", ".join("CAST('0x'||substring(md5(tok), %d, 4) AS BIGINT) AS hc%d" % (c * 4 + 1, c) for c in range(4))}
  FROM tok
),
votes AS (SELECT doc_id, {_simhash_votes_duck()} FROM th GROUP BY doc_id),
sig AS MATERIALIZED (
  SELECT doc_id,
         {", ".join(_simhash_chunk_duck(c) + " AS c%d" % c for c in range(4))}
  FROM votes
),
chunked AS (
  {" UNION ALL ".join("SELECT doc_id, %d AS chunk_idx, c%d AS chunk_val FROM sig" % (c, c) for c in range(4))}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM chunked a JOIN chunked b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
)
SELECT id1, id2,
       CAST(bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1))
          + bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3))
         AS BIGINT) AS hamming
FROM cand
JOIN sig s1 ON s1.doc_id = id1
JOIN sig s2 ON s2.doc_id = id2
WHERE bit_count(xor(s1.c0, s2.c0)) + bit_count(xor(s1.c1, s2.c1))
    + bit_count(xor(s1.c2, s2.c2)) + bit_count(xor(s1.c3, s2.c3)) <= 3
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (Charikar 2002 / Manku et al. 2007):

    64-bit simhash per doc — each token hashes to 64 bits, each bit
    contributes ±1, the sign of the per-bit sum is the signature bit. The
    signature is materialized as four 16-bit chunks; by the pigeonhole
    argument, hamming(a,b) ≤ 3 ⇒ at least one chunk is equal, so candidate
    generation is an equality join on (chunk_idx, chunk_value) and exact
    hamming distance is verified on candidates only.

    Bit b of the signature is bit b%16 of hex-slice b//16 of ONE portable
    md5 digest per token (chunk c = hex chars [4c+1, 4c+4] parsed as a
    16-bit int — one digest, four cheap substring parses), so DuckDB
    reproduces the signatures exactly and the operator is oracle-verified
    end-to-end (rows-only until round 4).
    """
    corpus = _corpus_with_exact_dups(spark, sf_dir)
    # (doc, chunk-hash) rows, then 64 conditional sums — all whole-stage
    # codegen, one shuffle on doc_id. (A first cut folded 64-wide arrays with
    # aggregate(zip_with(...)) per row; that was ~20x slower.)
    tok_hash = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        *[
            F.expr(
                f"CAST(conv(substring(md5(tok), {c * 4 + 1}, 4), 16, 10) AS BIGINT)"
            ).alias(f"hc{c}")
            for c in range(4)
        ],
    )
    votes = tok_hash.groupBy("doc_id").agg(*_simhash_vote_agg_exprs())
    sig = votes.selectExpr("doc_id", f"{_SIMHASH_CHUNKS_EXPR} AS chunks")

    chunked = sig.select(
        "doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk_val")
    )
    # Scale posture for the bucket self-join (the link-prediction medicine,
    # measured at the sfx1.0 sweep): hot chunk buckets blow up
    # quadratically — spillable sort-merge instead of an AQE-estimated
    # broadcast/non-spillable SHJ build, and the pair explosion goes
    # through a size-tiered wide exchange (AQE cannot coalesce an explicit
    # repartition) that the distinct reuses. All via the shared bounded
    # pair generator (scale.py; 1 MiB gate — signatures derive from text).
    cand = bounded_self_join(
        chunked, ["chunk_idx", "chunk_val"], "doc_id", sf_dir, "documents",
        gate=ARRAY_TABLE_BYTES, spark=spark,
    ).distinct()
    c1 = sig.select(F.col("doc_id").alias("id1"), F.col("chunks").alias("ch1"))
    c2 = sig.select(F.col("doc_id").alias("id2"), F.col("chunks").alias("ch2"))
    hamming = F.expr(
        "aggregate(zip_with(ch1, ch2, (x, y) -> bit_count(x ^ y)), 0, (a, v) -> a + v)"
    )
    return (
        cand.join(
            hint_merge_if_large(c1, sf_dir, "documents", ARRAY_TABLE_BYTES), "id1"
        )
        .join(
            hint_merge_if_large(c2, sf_dir, "documents", ARRAY_TABLE_BYTES), "id2"
        )
        .withColumn("hamming", hamming.cast("bigint"))
        .filter(F.col("hamming") <= 3)
        .select("id1", "id2", "hamming")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1)
  FROM documents WHERE doc_id % 5 = 0
),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_K - 2}, 2)),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')
         )) AS shingles
  FROM corpus
),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
df AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= {RARE_SHINGLE_CAP}),
rare AS (SELECT inv.doc_id, inv.shingle FROM inv JOIN df USING (shingle)),
cand AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
prefiltered AS (
  SELECT id1, id2
  FROM cand
  JOIN shingled s1 ON s1.doc_id = id1
  JOIN shingled s2 ON s2.doc_id = id2
  WHERE 3 * n_common >= len(s1.shingles) + len(s2.shingles)
),
verified AS (
  SELECT id1, id2,
         CAST(len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))
              AS DOUBLE) /
         (len(s1.shingles) + len(s2.shingles)
          - len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s))))
           AS jaccard
  FROM prefiltered
  JOIN shingled s1 ON s1.doc_id = id1
  JOIN shingled s2 ON s2.doc_id = id2
)
SELECT id1, id2, jaccard FROM verified WHERE jaccard >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a rare-shingle inverted index:

    candidates = docs sharing ≥1 shingle with document frequency ≤ 50 (the
    DF cap is the skew guard — hot shingles would otherwise quadratically
    blow up the self-join), then exact Jaccard over full shingle sets on the
    candidate pairs, threshold 0.5. Fully SQL-expressible, so unlike the
    MinHash path this one is oracle-verified end-to-end.

    Recall contract under exact duplication: every copy of a document
    inflates ALL its shingles' DF, so once a family's copy count exceeds
    the cap its shingles stop being rare and the family yields no
    candidates (measured: 0 rows on the 10x-replicated sfx1.0 corpus,
    where every text has ~10 identical copies — SCALE.md round 15). The
    cap must stay ABSOLUTE, not corpus-relative: candidates per shingle
    are O(DF**2), so a relative cap reintroduces the quadratic blowup the
    cap exists to prevent. The designed pipeline runs exact dedup first
    (dedup_removal_plan's staged exact->near composition), which collapses
    identical copies and restores shingle rarity before this op runs.
    """
    # shingle_sets' op_cache: the shingled relation feeds the index, the
    # sizes AND both exact-verify sides
    docs = shingle_sets(_corpus_with_near_dups(spark, sf_dir))
    # 3*I >= |A|+|B| is EXACTLY J >= 0.5 when the DF cap doesn't bite, so
    # almost all of the ~1.6M raw candidate pairs die on integer counts
    # before any array work
    cand = rare_shingle_pairs(docs, sf_dir)
    # prefilter on per-doc shingle COUNTS (ints) first; full shingle arrays
    # are attached only to the surviving ~0.1% of candidate pairs
    sizes = docs.select("doc_id", F.size("shingles").alias("sz"))
    prefiltered = (
        cand.join(sizes.select(F.col("doc_id").alias("id1"),
                               F.col("sz").alias("sz1")), "id1")
        .join(sizes.select(F.col("doc_id").alias("id2"),
                           F.col("sz").alias("sz2")), "id2")
        .filter(3 * F.col("n_common") >= F.col("sz1") + F.col("sz2"))
        .select("id1", "id2")
    )
    survivors = shingle_pair_sides(prefiltered, docs, sf_dir)
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - inter
    return (
        survivors.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= 0.5)
        .select("id1", "id2", "jaccard")
    )


_FP_WINDOW = 4      # rolling window width (tokens) for fingerprint hashes
_FP_KEEP = 8        # smallest window hashes kept per document
_FP_MIN_SHARED = 2  # candidate pairs must share >= this many hashes
_FP_DF_CAP = 50     # hashes in > this many docs are boilerplate: skip them


_FINGERPRINT_PAIRS_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice(string_split(text, ' '), 1, len(string_split(text, ' ')) - 1)
  FROM documents WHERE doc_id % 5 = 0
),
fp AS MATERIALIZED (
  SELECT doc_id,
         list_slice(list_sort(list_distinct(list_transform(
           range(1, greatest(len(toks) - {_FP_WINDOW - 2}, 2)),
           i -> CAST('0x'||substring(
                  md5(array_to_string(list_slice(toks, i, i + {_FP_WINDOW - 1}), ' ')),
                  1, 15) AS BIGINT)
         ))), 1, {_FP_KEEP}) AS fingerprint
  FROM corpus
),
inv AS (SELECT doc_id, unnest(fingerprint) AS h FROM fp),
df AS (SELECT h FROM inv GROUP BY h HAVING count(*) <= {_FP_DF_CAP}),
rare AS (SELECT inv.doc_id, inv.h FROM inv JOIN df USING (h))
SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
FROM rare a JOIN rare b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {_FP_MIN_SHARED}
"""


@register("dedup_fingerprint_pairs", oracle=_FINGERPRINT_PAIRS_ORACLE)
def dedup_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint candidate pairs (Schleimer et al. 2003,
    the MOSS approach): each document keeps its 8 smallest distinct rolling
    4-token-window hashes (portable md5-derived, oracle-reproducible); docs
    sharing >= 2 fingerprint hashes are near-dup candidates with the shared
    count reported. Candidate generation is an equality join on the hash,
    guarded by a document-frequency cap (hashes present in > 50 docs are
    template/boilerplate windows whose self-join fan-out would otherwise be
    quadratic in their popularity — the same skew guard as the shingle
    index); the shuffle carries 8 rows per document at any corpus size.
    The cap runs on the hash itself on BOTH sides (the hash IS the content
    key here; an md5 collision merging two windows' counts is ~2^-60 and
    the oracle applies the identical hash-level cap, so parity is exact)."""
    corpus = _corpus_with_near_dups(spark, sf_dir).withColumn(
        "toks", F.split("text", " ")
    )
    window_hashes = F.expr(
        f"""
        transform(
          sequence(1, greatest(size(toks) - {_FP_WINDOW - 1}, 1)),
          i -> CAST(conv(substring(md5(concat_ws(' ', slice(toks, i, {_FP_WINDOW}))),1,15),16,10) AS BIGINT)
        )
        """
    )
    # op_cache: exploding the fingerprint transform over the corpus union
    # re-tokenizes pathologically on giant docs (extremes tier, round 10)
    fp = corpus.select(
        "doc_id",
        F.slice(
            F.array_sort(F.array_distinct(window_hashes)), 1, _FP_KEEP
        ).alias("fingerprint"),
    ).transform(op_cache)
    inv = fp.select("doc_id", F.explode("fingerprint").alias("h"))
    rare_h = inv.groupBy("h").count().filter(F.col("count") <= _FP_DF_CAP).select("h")
    rare = inv.join(rare_h, "h")
    return (
        bounded_self_join(
            rare, ["h"], "doc_id", sf_dir, "documents", gate=ARRAY_TABLE_BYTES
        )
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _FP_MIN_SHARED)
    )


_CONTAINMENT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET},
         list_slice(string_split(text, ' '),
                    1, greatest(len(string_split(text, ' ')) // 2, {SHINGLE_K}))
  FROM documents WHERE doc_id % 7 = 0
),
shingled AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {SHINGLE_K - 2}, 2)),
           i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')
         )) AS shingles
  FROM corpus
),
inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM shingled),
df AS (SELECT shingle FROM inv GROUP BY shingle HAVING count(*) <= {RARE_SHINGLE_CAP}),
rare AS (SELECT inv.doc_id, inv.shingle FROM inv JOIN df USING (shingle)),
cand AS (
  SELECT a.doc_id AS small_id, b.doc_id AS big_id, count(*) AS n_common
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT small_id, big_id,
       CAST(len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))
            AS DOUBLE) / len(s1.shingles) AS containment
FROM cand
JOIN shingled s1 ON s1.doc_id = small_id
JOIN shingled s2 ON s2.doc_id = big_id
WHERE 10 * n_common >= 8 * len(s1.shingles)
  AND CAST(len(list_filter(s1.shingles, s -> list_contains(s2.shingles, s)))
           AS DOUBLE) / len(s1.shingles) >= 0.8
"""


@register("text_containment_pairs", oracle=_CONTAINMENT_ORACLE)
def text_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup detection (Broder's containment
    coefficient): C(A,B) = |A∩B| / |A| over 3-token shingle sets, flagging
    documents mostly CONTAINED in another (excerpts, quotes, truncated
    copies) that symmetric Jaccard misses — at half-length, J ≈ 0.5 but
    C = 1.0. The fixture embeds a half-truncated copy of every 7th doc.

    Same scale shape as the Jaccard path: rare-shingle inverted index
    (DF ≤ 50 skew cap), integer n_common ≥ 0.8·|A| prefilter before any
    array work, exact shingle-set verify on surviving candidates only —
    never all-pairs. Directional: (small, big) ordered pairs. Same
    recall contract as dedup_ngram_jaccard under exact duplication:
    copy-inflated DF pushes a family's shingles past the cap (0 rows on
    the 10x-replicated sfx1.0 corpus); run exact dedup first — the cap
    stays absolute because candidates per shingle are O(DF**2)."""
    d = Tables(spark, sf_dir).documents.select("doc_id", "text")
    toks = F.split("text", " ")
    truncated = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + _DUP_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(
                toks,
                1,
                F.greatest(
                    (F.size(toks) / 2).cast("int"), F.lit(SHINGLE_K)
                ),
            ),
            " ",
        ).alias("text"),
    )
    docs = shingle_sets(d.unionByName(truncated))
    # ordered=False: containment roles are asymmetric (small-in-big), so
    # both pair directions are emitted and the containment filter decides
    cand = rare_shingle_pairs(
        docs, sf_dir, out=("small_id", "big_id"), ordered=False
    )
    sizes = docs.select("doc_id", F.size("shingles").alias("sz"))
    prefiltered = cand.join(
        sizes.select(F.col("doc_id").alias("small_id"), F.col("sz").alias("sz1")),
        "small_id",
    ).filter(10 * F.col("n_common") >= 8 * F.col("sz1")).select("small_id", "big_id")
    containment = (
        F.size(F.array_intersect("sh1", "sh2")).cast("double") / F.size("sh1")
    )
    return (
        shingle_pair_sides(prefiltered, docs, sf_dir, ids=("small_id", "big_id"))
        .withColumn("containment", containment)
        .filter(F.col("containment") >= 0.8)
        .select("small_id", "big_id", "containment")
    )

"""LLM-data-pipeline operator pack (mandated by BASELINE.json): exact +
near dedup (minhash-LSH, simhash, n-gram jaccard, embedding cosine),
similarity search (brute-force + LSH-bucketed), text analysis (lang-id,
quality, token counting, fingerprinting, tf-idf), multimodal metadata.

Design stance for 100 TB:

- everything is built from JVM-side SQL expressions (no Python in the
  hot path); Pandas-UDFs appear only in the multimodal codec tiers
  (operators.multimodal — real WAV/PPM/Y4M encode+decode) and the
  labeled UDF-surface exhibits;
- every pairwise operation is *blocked* before it is compared — LSH
  bands for minhash, hash buckets for simhash, shared shingles for
  jaccard, label/sign-buckets for embeddings — so the candidate set
  grows ~linearly with data, never O(n²);
- thresholds were chosen against the observed data distribution
  (shingle-jaccard near-dups ≈0.99 exist; embedding cosine max ≈0.51)
  and sit far from any float rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (STOPWORDS, duckdb_tokens, hexchar_parity,
                              normalize_text, shingles_col, tokens_col)
from ..functions.vectors import (cosine_expr, dot_expr, duckdb_cosine,
                                 norm_expr)
from ..sources import (edge_layout_partitions, fits_broadcast, load_table,
                       spread)
from .catalog import register

DIM = 64  # embedding dimensionality (FIXTURES.md §B)


# --------------------------------------------------------------------------
# deduplication
# --------------------------------------------------------------------------


@register(
    "llm_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) > 1 AS is_dup
    FROM documents
    GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text. Scale: group on the
    128-bit digest (not the document body), so the shuffle carries
    16-byte keys; canonical id = min doc_id makes the survivor choice
    deterministic."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("canonical_doc_id"))
        .withColumn("is_dup", F.col("n_docs") > 1)
    )


def _minhash_sig_sql(dialect: str) -> tuple[str, str]:
    """(tokens_expr, shingles_expr) for the given dialect."""
    toks = tokens_col("text") if dialect == "spark" else duckdb_tokens("text")
    return toks, shingles_col(toks, dialect)


_MINHASH_K = 6          # 6 hash functions -> 3 bands of 2 rows
_MINHASH_BANDS = [(0, 1), (2, 3), (4, 5)]

# One md5 per shingle, sliced into K independent 5-hex-digit (20-bit)
# sub-hashes — 6x less hashing than K salted digests for the same
# banding behavior (the slices of one digest are independently uniform;
# 20 bits is ample for a min-of-set signature). Hashing dominates the
# signature stage's cost at corpus scale, so this is the hot-loop knob.
_MINHASH_SLICES = [(1 + 5 * i, 5) for i in range(_MINHASH_K)]

#: Oversized-bucket guard (the r11 fourth-decade finding): a minhash
#: MINIMUM concentrates on the globally-smallest-hashed COMMON
#: shingles, so past a few hundred thousand docs the hottest band
#: buckets grow WITH the corpus (measured on the 10x/100x doc
#: replicas, permuted so replicas share no shingles: max bucket
#: 655 -> 6,241 and in-bucket pair mass 3.0M -> 293M for one 10x
#: step — quadratic, and an OOM at 5M docs before this guard).
#: r11 DROPPED over-cap buckets wholesale, which bounded the work but
#: lost recall on genuine over-cap duplicate clusters (boilerplate
#: replicated thousands of times exceeds the cap in EVERY band, emits
#: zero pairs, and every copy survives dedup — the r11 advice finding).
#: r12 instead emits STAR pairs (bucket-min representative, other) for
#: over-cap buckets: O(n) per bucket instead of O(n²), and because a
#: star and a clique have IDENTICAL connected components, the
#: downstream llm_dedup_components / llm_dedup_apply labeling is
#: exactly what the uncapped clique graph would produce — a true-dup
#: cluster of any size still collapses to one survivor
#: (test_minhash_overcap_cluster_collapses proves it at 3x the cap).
#: Only the RAW pair list differs above the cap (star subset of the
#: clique), which is the right trade: those extra pairs carry no
#: component information and their count is what went quadratic.
#: 512 binds NOWHERE the correctness gates run (driver sf0.01
#: max bucket ~5, sf1 replica ~65, 500k-doc permuted replica 655 only
#: at the very top). The DuckDB oracle applies the IDENTICAL
#: star-over-cap rule, so the strict value-hash gate stays exact at
#: every SF.
_LSH_BUCKET_CAP = 512


def _minhash_oracle() -> str:
    toks, shingles = _minhash_sig_sql("duckdb")
    mins = ", ".join(
        f"MIN(substr(hs, {p}, {w})) AS h{i}"
        for i, (p, w) in enumerate(_MINHASH_SLICES))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band_idx, CONCAT(h{a}, h{b}) AS band_val FROM sig"
        for bi, (a, b) in enumerate(_MINHASH_BANDS))
    return f"""
    WITH sh AS (
      SELECT doc_id, md5(UNNEST(list_distinct({shingles}))) AS hs
      FROM documents
    ), sig AS (
      SELECT doc_id, {mins} FROM sh GROUP BY doc_id
    ), bands AS ({bands}),
    fb AS (
      -- same oversized-bucket rule as minhash_pairs (_LSH_BUCKET_CAP):
      -- full pairs up to the cap, star-to-bucket-min pairs above it
      SELECT doc_id, band_idx, band_val,
             COUNT(*) OVER (PARTITION BY band_idx, band_val) AS n,
             MIN(doc_id) OVER (PARTITION BY band_idx, band_val) AS bmin
      FROM bands
    )
    SELECT DISTINCT doc_a, doc_b FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fb a JOIN fb b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      WHERE a.n <= {_LSH_BUCKET_CAP}
      UNION ALL
      SELECT bmin AS doc_a, doc_id AS doc_b
      FROM fb WHERE n > {_LSH_BUCKET_CAP} AND doc_id <> bmin
    ) t
    """


def minhash_pairs(sh: DataFrame) -> DataFrame:
    """LSH candidate pairs from a hashed-shingle table ``(doc_id, hs)``
    (hs = md5 hex of one distinct shingle): per-doc min-slice
    signatures -> bands -> within-bucket pair generation. Shared by
    llm_dedup_minhash and the composed llm_dedup_verified pipeline so
    the shingle pass can be computed (and checkpointed) once upstream.
    """
    sig = sh.groupBy("doc_id").agg(*[
        F.min(F.substring("hs", p, w)).alias(f"h{i}")
        for i, (p, w) in enumerate(_MINHASH_SLICES)
    ])
    band_structs = F.array(*[
        F.struct(F.lit(bi).alias("band_idx"),
                 F.concat(F.col(f"h{a}"), F.col(f"h{b}")).alias("band_val"))
        for bi, (a, b) in enumerate(_MINHASH_BANDS)
    ])
    bands = (
        sig.select("doc_id", F.explode(band_structs).alias("bd"))
        .select("doc_id", "bd.band_idx", "bd.band_val")
    )
    # Bucket stats ride a window over the band key (count + min share
    # one WindowExec; its partitioning IS the groupBy key below, so
    # the small path adds no exchange, and the two branches share the
    # band exchange via ReusedExchange — the shingle/signature subtree
    # is computed once).
    w = Window.partitionBy("band_idx", "band_val")
    fb = (bands
          .withColumn("n", F.count(F.lit(1)).over(w))
          .withColumn("bmin", F.min("doc_id").over(w)))
    # pairs within each bucket: sorted doc list -> (ds[j], ds[i]) j<i
    pair_expr = (
        "flatten(transform(sequence(1, size(ds) - 1), "
        "i -> transform(sequence(0, i - 1), "
        "j -> struct(ds[j] AS doc_a, ds[i] AS doc_b))))"
    )
    # the oversized-bucket guard (_LSH_BUCKET_CAP): past ~1M docs the
    # hottest buckets are common-shingle artifacts whose size grows
    # WITH the corpus. Buckets at or under the cap emit the full
    # clique (collect_list arrays bounded by the cap — the filter runs
    # BEFORE the aggregate, so no over-cap array is ever materialized);
    # buckets above it emit a STAR to the bucket-min representative —
    # O(n) rows, same connected components as the clique, so dedup
    # recall on genuine over-cap duplicate clusters is preserved
    # (see the _LSH_BUCKET_CAP note). The oracle applies the same rule.
    small = (
        fb.filter(F.col("n") <= _LSH_BUCKET_CAP)
        .groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b")
    )
    big = (
        fb.filter((F.col("n") > _LSH_BUCKET_CAP)
                  & (F.col("doc_id") != F.col("bmin")))
        .select(F.col("bmin").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    return small.unionByName(big).distinct()


@register("llm_dedup_minhash", oracle=_minhash_oracle(), tags=("llm", "dedup", "lsh"))
def llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates: word-3-gram shingles ->
    ONE md5 per shingle sliced into K=6 20-bit min-hashes -> 3 bands
    of 2 -> pairs emitted per band bucket.

    Scale: no self-join at all — bands are grouped (one shuffle on the
    band value, ~uniform keys) and pairs are generated inside each
    bucket with a higher-order expression, so the pipeline is computed
    once and no document compares beyond its bucket. Token arrays are
    materialized as a column before shingling so ``split`` runs once
    per row, not once per lambda element; hashing is once per shingle
    (digest slices), not once per (shingle, hash function).
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks_df = d.select("doc_id", F.expr(tokens_col("text")).alias("toks"))
    sh = toks_df.select("doc_id", F.explode(
        F.array_distinct(F.expr(shingles_col("toks", "spark")))).alias("s")
    ).select("doc_id", F.md5("s").alias("hs"))
    return minhash_pairs(sh)


def _components_oracle() -> str:
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      -- the whole minhash-LSH pipeline; referenced twice by edges —
      -- plain-CTE inlining re-ran it per reference (133.4 s at the
      -- sf1 replica; 15.3 s materialized, identical rows)
      SELECT * FROM ({_minhash_oracle()}) t
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
      SELECT doc_id AS id, doc_id AS lbl FROM documents
      UNION
      SELECT e.src AS id, r.lbl
      FROM reach r JOIN edges e ON r.id = e.dst
    ), comp AS (
      SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id
    )
    SELECT doc_id, component,
           COUNT(*) OVER (PARTITION BY component) AS n_members
    FROM comp
    """


@register("llm_dedup_components", oracle=_components_oracle(),
          tags=("llm", "dedup", "iterative"))
def llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the minhash-LSH candidate graph — the
    step a production dedup pipeline runs after pair generation, so
    transitive near-dups (A~B, B~C) collapse into ONE cluster with a
    deterministic canonical id (the minimum doc_id in the component).
    Singleton docs are their own component.

    Iterative min-label propagation (operators.components) — the same
    fixpoint the oracle computes as a DuckDB recursive transitive
    closure, which is tractable at oracle scale while the Spark loop
    is the 100 TB path. See operators/components.py for the
    round-count and lineage scale analysis.
    """
    w = Window.partitionBy("component")
    return _component_labels(spark, sf_dir).select(
        "doc_id", "component",
        F.count(F.lit(1)).over(w).alias("n_members"))


def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeling WITHOUT the n_members window: consumers that only
    need (doc_id, component) — llm_split_cluster_safe's hash-split is
    a pure projection of the component id — skip the window's
    exchange + sort over the full corpus (r12; the window stays in
    llm_dedup_components/llm_dedup_apply, which return it)."""
    from ..operators.components import connected_components

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"))
    pairs = llm_dedup_minhash(spark, sf_dir)
    comp = connected_components(
        d, pairs.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst")),
        npart=edge_layout_partitions(spark, sf_dir, "documents"),
        broadcast=fits_broadcast(sf_dir, "documents"))
    return comp.select(F.col("id").alias("doc_id"), "component")


@register(
    "llm_dedup_apply",
    oracle=f"""
    WITH comp AS ({_components_oracle()})
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           comp.n_members AS cluster_size
    FROM documents d JOIN comp ON d.doc_id = comp.doc_id
    WHERE comp.doc_id = comp.component
    """,
    tags=("llm", "dedup", "iterative"),
)
def llm_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT: the surviving corpus — one
    canonical document per connected component (the min doc_id keeps
    itself; every transitive near-dup collapses into it), with the
    cluster size kept as provenance. candidates → verify → cluster →
    THIS is the end-to-end story; downstream training-data assembly
    reads this table.

    Scale: a join of documents against the component labeling on
    doc_id plus a pushed-down survivor filter — the iterative part is
    llm_dedup_components; applying it is one co-partitioned join.
    """
    comp = llm_dedup_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    return (d.join(comp, "doc_id")
            .filter(F.col("doc_id") == F.col("component"))
            .select("doc_id", "lang", "source", "n_chars",
                    F.col("n_members").alias("cluster_size")))


def _simhash_bits_sql(token_hash: str, nbits: int) -> list[str]:
    """Per-bit ±1 contributions from a token's md5 hex chars."""
    return [
        f"SUM(2 * ({hexchar_parity(token_hash, b + 1)}) - 1)"
        for b in range(nbits)
    ]


_SIMHASH_BITS = 16


def _simhash_oracle() -> str:
    toks = duckdb_tokens("text")
    sums = ", ".join(
        f"{s} AS s{b}" for b, s in
        enumerate(_simhash_bits_sql("md5(tok)", _SIMHASH_BITS)))
    bits = ", ".join(
        f"CASE WHEN s{b} >= 0 THEN '1' ELSE '0' END" for b in range(_SIMHASH_BITS))
    return f"""
    WITH tok AS (SELECT doc_id, UNNEST({toks}) AS tok FROM documents),
    sums AS (SELECT doc_id, {sums} FROM tok GROUP BY doc_id),
    sig AS (SELECT doc_id, CONCAT({bits}) AS simhash FROM sums)
    SELECT doc_id, simhash,
           COUNT(*) OVER (PARTITION BY simhash) AS bucket_size
    FROM sig
    """


@register("llm_dedup_simhash", oracle=_simhash_oracle(), tags=("llm", "dedup"))
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) document signatures: each token votes ±1 per
    bit (bit = parity of the corresponding md5 hex char), sign of the
    sum becomes the bit. Same-signature docs are near-dup candidates.

    Scale: one explode + one aggregate on doc_id — no pairwise work at
    all; the signature *is* the blocking key. Hamming-adjacent probing
    (flip-1-bit buckets) is the documented recall extension.
    """
    sig = _simhash_sig(spark, sf_dir)
    return sig.withColumn(
        "bucket_size", F.count(F.lit(1)).over(Window.partitionBy("simhash")))


def _simhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc signature WITHOUT the bucket_size window — for
    consumers that aggregate by simhash themselves and would otherwise
    pay the window's exchange + sort twice (r12:
    llm_cluster_quality_pick folds bucket_size into its own survivor
    aggregate)."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", F.explode(F.expr(tokens_col("text"))).alias("tok"))
    sums = tok.groupBy("doc_id").agg(*[
        F.expr(s).alias(f"s{b}")
        for b, s in enumerate(_simhash_bits_sql("md5(tok)", _SIMHASH_BITS))
    ])
    bits = [F.when(F.col(f"s{b}") >= 0, "1").otherwise("0")
            for b in range(_SIMHASH_BITS)]
    return sums.select("doc_id", F.concat(*bits).alias("simhash"))


def jaccard_pairs(sh: DataFrame, threshold: float = 0.5,
                  df_cap: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs from a ``(doc_id, s)``
    distinct-shingle relation, candidates generated only through the
    inverted index (shared shingles).

    df_cap: when set, shingles appearing in more than ``df_cap``
    documents are dropped from BOTH the index and the per-doc set
    sizes before any pairing — the hot-shingle guard. A boilerplate
    shingle shared by f docs would otherwise join f·(f-1)/2 pairs
    (1% of a 100 TB corpus → ~n²/2·10⁴ rows); with the cap, every
    shingle contributes ≤ cap²/2 pairs, so the candidate count is
    linear in the number of distinct shingles. The hot set itself is
    tiny by construction (≤ total-occurrences/cap entries), so it
    ships as a broadcast anti-join — no extra shuffle of the index.
    """
    if df_cap is not None:
        hot = (sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > df_cap).select("s"))
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    # the (capped) shingle relation feeds three consumers — set sizes
    # and both inverted-index sides — so materialize it once; without
    # this each consumer re-plans the corpus tokenize+explode
    # (plan_audit measured 8 documents scans on the capped variant)
    sh = sh.localCheckpoint(eager=True)
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s2"))
    inter = (
        sh.join(b, (sh.s == b.s2) & (sh.doc_id < b.doc_b))
        .groupBy(F.col("doc_id").alias("doc_a"), "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = n.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("na"))
    nb = n.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("nb"))
    jac = (F.col("inter").cast("double")
           / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"))
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _jaccard_oracle(df_cap: int | None = None) -> str:
    toks = duckdb_tokens("text")
    shingles = shingles_col(toks, "duckdb")
    cap_filter = "" if df_cap is None else (
        f" QUALIFY COUNT(*) OVER (PARTITION BY s) <= {df_cap}")
    return f"""
    WITH sh0 AS (
      SELECT doc_id, UNNEST(list_distinct({shingles})) AS s FROM documents
    ), sh AS MATERIALIZED (
      -- referenced 3x (n + both sides of inter); plain-CTE inlining
      -- re-exploded the shingles per reference (exact tier at the sf1
      -- replica: 143.2 -> 123.9 s materialized, identical rows)
      SELECT doc_id, s FROM sh0{cap_filter}
    ), n AS (
      SELECT doc_id, COUNT(*) AS ns FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(inter AS DOUBLE)
                 / CAST(na.ns + nb.ns - inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN n na ON doc_a = na.doc_id
    JOIN n nb ON doc_b = nb.doc_id
    WHERE CAST(inter AS DOUBLE) / CAST(na.ns + nb.ns - inter AS DOUBLE) >= 0.5
    """


@register("llm_dedup_ngram_jaccard_exact", oracle=_jaccard_oracle(),
          tags=("llm", "dedup", "verify"))
def llm_dedup_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (threshold 0.5): distinct
    3-gram shingles, candidate pairs generated *only* through shared
    shingles (an inverted-index join — pairs sharing nothing are never
    materialized), intersection counted by group, |A∪B| by
    inclusion-exclusion.

    VERIFY TIER: this uncapped form is exact over ALL shingles and is
    kept for full-fidelity cross-checks; the primary name
    (llm_dedup_ngram_jaccard) carries the df-capped 100 TB shape. An
    uncapped inverted index is O(f²) in the hottest shingle's document
    frequency — do not run this twin corpus-wide at scale.
    """
    sh = _doc_shingles(spark, sf_dir)
    return jaccard_pairs(sh, threshold=0.5, df_cap=None)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, s) distinct word-3-gram shingles per document."""
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks_df = d.select("doc_id", F.expr(tokens_col("text")).alias("toks"))
    return toks_df.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(shingles_col("toks", "spark")))).alias("s"))


_JACCARD_DF_CAP = 40


@register("llm_dedup_ngram_jaccard",
          oracle=_jaccard_oracle(df_cap=_JACCARD_DF_CAP),
          tags=("llm", "dedup", "capped"))
def llm_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs with the hot-shingle guard ON
    (df cap 40): shingles present in more documents than the cap are
    dropped from the index AND the set sizes before pairing. This is
    the PRIMARY registered shape (the uncapped exact twin is
    llm_dedup_ngram_jaccard_exact, verify tier only).

    Scale: this is the 100 TB formulation. An uncapped inverted index
    explodes on one boilerplate shingle (f docs → f²/2 candidate
    pairs); with the cap every shingle contributes ≤ cap²/2 pairs and
    the candidate count stays linear in distinct shingles. The hot set
    (≤ occurrences/cap entries) broadcasts into a left-anti join, so
    the guard costs one map-side agg — no extra shuffle. Near-dup
    recall is unaffected: high-jaccard pairs share many *rare*
    shingles; the dropped ones are corpus-wide boilerplate.
    """
    sh = _doc_shingles(spark, sf_dir)
    return jaccard_pairs(sh, threshold=0.5, df_cap=_JACCARD_DF_CAP)


@register(
    "llm_dedup_embedding_exact",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           ROUND({duckdb_cosine('a.embedding', 'b.embedding', DIM)}, 4) AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {duckdb_cosine('a.embedding', 'b.embedding', DIM)} >= 0.4
    """,
    tags=("llm", "dedup", "vector", "verify"),
)
def llm_dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label only (the
    coarse cluster id): only same-label vectors are compared, cosine
    computed JVM-side via higher-order functions (functions.vectors),
    threshold 0.4 (observed in-label max ≈0.47).

    VERIFY TIER: label-only blocking leaves each block O(block²) — a
    hot label degenerates quadratically. The primary name
    (llm_dedup_embedding) carries the banded composite-key shape;
    this twin exists for full-recall in-label cross-checks.
    """
    # norms are computed ONCE per vector (projection below), not per
    # pair — identical arithmetic to cosine_expr, 1/3 the per-pair work
    # (the dot product alone remains in the O(block²) loop)
    en = spread(load_table(spark, sf_dir, "embeddings"), "label") \
        .withColumn("nrm", F.expr(norm_expr("embedding", DIM)))
    a = en.select(F.col("vec_id").alias("vec_a"), F.col("label"),
                  F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    b = en.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"),
                  F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    cos = F.expr(f"({dot_expr('ea', 'eb', DIM)} / (na * nb))")
    return (
        a.join(b, (a.label == b.lb) & (a.vec_a < b.vec_b))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= 0.4)
        .select("vec_a", "vec_b", "label",
                F.round("cos_sim_raw", 4).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------


@register(
    "llm_simsearch_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id AS vec_id, e.label AS label,
           ROUND({duckdb_cosine('e.embedding', 'q.qe', DIM)}, 4) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY ROUND({duckdb_cosine('e.embedding', 'q.qe', DIM)}, 4) DESC, e.vec_id
    LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def llm_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (k=10) against the query vector
    (vec_id 0) — the exact baseline for ANN.

    Scale: the query side is one broadcast row, so the scan is
    embarrassingly parallel; ORDER BY+LIMIT plans as per-partition
    top-k (TakeOrdered) — no global sort, no full shuffle.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"),
        F.expr(norm_expr("embedding", DIM)).alias("qn"))
    cos = F.expr(f"({dot_expr('embedding', 'qe', DIM)}"
                 f" / ({norm_expr('embedding', DIM)} * qn))")
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", cos)
        .orderBy(F.desc(F.round("cos_raw", 4)), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cos_sim"))
    )


def _signbucket(col: str, dialect: str, nbits: int = 4) -> str:
    """Sign-of-dimension LSH bucket (random-hyperplane LSH with
    axis-aligned planes), ``nbits`` planes → 2^nbits buckets —
    identical text modulo list indexing."""
    at = (lambda i: f"element_at({col}, {i})") if dialect == "spark" \
        else (lambda i: f"{col}[{i}]")
    bits = [f"CASE WHEN {at(i)} >= 0 THEN '1' ELSE '0' END"
            for i in range(1, nbits + 1)]
    return "CONCAT(" + ", ".join(bits) + ")"


#: Corpus-scaled banding (the r12 close of the r11 "weak" finding):
#: a FIXED band-bit count leaves block size = n_label / 2^bits, which
#: grows linearly with the corpus at a fixed label vocabulary — so
#: in-block pair mass grows quadratically, the same fourth-decade
#: class the minhash cap fixed. The bit count now scales with the
#: hottest label: nbits = clamp(2, 16, ceil(log2(max_label_n / 64))),
#: i.e. blocks target ~64 vectors whatever the corpus size — 2 bits
#: at every driver/bench SF (identical results to the historical
#: fixed-2-bit shape there), 6 bits at the 20k-vector sf1 replica,
#: 14 bits at 5M vectors. The bucket is a PREFIX of one fixed 16-bit
#: sign string, so engine and oracle share a single expression and
#: the oracle derives the same nbits from the same scalar aggregate
#: (a DuckDB subquery; the engine runs a one-row Spark agg). The
#: 16-bit ceiling is the DIM=64 demo's knob — a deployment with a
#: larger corpus raises it (or adds non-axis-aligned hyperplanes)
#: up to the embedding dimensionality.
_DEDUP_BAND_TARGET = 64   # target block size (vectors per block)
_DEDUP_BAND_MAXBITS = 16  # prefix ceiling (<= DIM axis-aligned planes)


def _dedup_band_bits(max_label_n: int) -> int:
    import math
    if max_label_n <= 0:
        return 2
    return max(2, min(_DEDUP_BAND_MAXBITS,
                      math.ceil(math.log2(max_label_n
                                          / float(_DEDUP_BAND_TARGET)))))


_DEDUP_NBITS_SQL = f"""(
    SELECT LEAST({_DEDUP_BAND_MAXBITS}, GREATEST(2,
           CAST(CEIL(LOG2(MAX(c) / {_DEDUP_BAND_TARGET}.0)) AS INT)))
    FROM (SELECT COUNT(*) AS c FROM embeddings GROUP BY label) lc
)"""


@register(
    "llm_dedup_embedding",
    # The bucket is MATERIALIZED per row before the self-join so DuckDB
    # hash-joins on plain (label, bucket) columns. Folding the
    # substr(..., nbits-subquery) expression into the join condition
    # instead makes DuckDB fall back to a nested-loop join over
    # label-equal pairs (the subquery-bearing key never becomes a hash
    # key): measured 77 s at the 20k-vector sf1 replica and >25 min at
    # the 200k-vector sf10 replica for the SAME result this form
    # produces in seconds. Same MATERIALIZED-CTE recipe as the
    # graph_jaccard_links oracle.
    oracle=f"""
    WITH eb AS MATERIALIZED (
      SELECT vec_id, label, embedding,
             substr({_signbucket('embedding', 'duckdb', _DEDUP_BAND_MAXBITS)},
                    1, {_DEDUP_NBITS_SQL}) AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           a.bucket AS bucket,
           ROUND({duckdb_cosine('a.embedding', 'b.embedding', DIM)}, 4) AS cos_sim
    FROM eb a
    JOIN eb b
      ON a.label = b.label
     AND a.bucket = b.bucket
     AND a.vec_id < b.vec_id
    WHERE {duckdb_cosine('a.embedding', 'b.embedding', DIM)} >= 0.4
    """,
    tags=("llm", "dedup", "vector", "lsh"),
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with composite blocking: (label,
    corpus-scaled sign-bucket) — the PRIMARY registered shape (the
    label-only exact twin is llm_dedup_embedding_exact, verify tier
    only).

    Scale: label alone leaves each block O(block²); the
    random-hyperplane sign-bucket splits every label into 2^nbits
    bands with nbits scaled to the hottest label (see
    _dedup_band_bits), so block size targets a CONSTANT ~64 vectors
    at any corpus size and total pair work stays ~linear — measured
    at the 50k/500k/5M-vector permuted-replica decades. High-cosine
    pairs agree on hyperplane signs with high probability, so
    near-dup recall is concentrated in-band; multi-probe (flip one
    bit) is the documented recall extension, same as the simhash
    path. The nbits scalar costs one tiny pre-pass aggregate (label
    column only), the same in-engine-statistics pattern the IVF
    centroid trainer uses.
    """
    raw = load_table(spark, sf_dir, "embeddings")
    mx = (raw.groupBy("label").agg(F.count(F.lit(1)).alias("c"))
          .agg(F.max("c")).first()[0])
    nbits = _dedup_band_bits(mx or 0)
    en = (spread(raw, "label")
          .withColumn("nrm", F.expr(norm_expr("embedding", DIM)))
          .withColumn("bucket", F.expr(
              _signbucket("embedding", "spark", nbits))))
    a = en.select(F.col("vec_id").alias("vec_a"), F.col("label"),
                  F.col("bucket"),
                  F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    b = en.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"),
                  F.col("bucket").alias("bb"),
                  F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    cos = F.expr(f"({dot_expr('ea', 'eb', DIM)} / (na * nb))")
    return (
        a.join(b, (a.label == b.lb) & (a.bucket == b.bb) & (a.vec_a < b.vec_b))
        .withColumn("cos_sim_raw", cos)
        .filter(F.col("cos_sim_raw") >= 0.4)
        .select("vec_a", "vec_b", "label", "bucket",
                F.round("cos_sim_raw", 4).alias("cos_sim"))
    )


@register(
    "llm_simsearch_lsh",
    oracle=f"""
    WITH q AS (
      SELECT embedding AS qe, {_signbucket('embedding', 'duckdb')} AS qb
      FROM embeddings WHERE vec_id = 0
    )
    SELECT e.vec_id AS vec_id,
           {_signbucket('e.embedding', 'duckdb')} AS bucket,
           ROUND({duckdb_cosine('e.embedding', 'q.qe', DIM)}, 4) AS cos_sim
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0 AND {_signbucket('e.embedding', 'duckdb')} = q.qb
    ORDER BY ROUND({duckdb_cosine('e.embedding', 'q.qe', DIM)}, 4) DESC, e.vec_id
    LIMIT 5
    """,
    tags=("llm", "similarity", "lsh"),
)
def llm_simsearch_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-bit bucket (4 hyperplanes -> 16 buckets)
    prunes the candidate set to ~1/16 of the table before any exact
    cosine — the scale path for similarity search. Same top-k shape as
    the brute-force baseline, restricted to the query's bucket.

    Scale: bucket is a computed partition key; at 100 TB the table is
    written partitioned by bucket so the search touches one partition
    (partition pruning), and multi-probe (neighbor buckets) trades
    recall for cost.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"))
    bucket = F.expr(_signbucket("embedding", "spark"))
    q = (e.filter(F.col("vec_id") == 0)
         .select(F.col("embedding").alias("qe"), bucket.alias("qb"),
                 F.expr(norm_expr("embedding", DIM)).alias("qn")))
    cos = F.expr(f"({dot_expr('embedding', 'qe', DIM)}"
                 f" / ({norm_expr('embedding', DIM)} * qn))")
    return (
        e.filter(F.col("vec_id") != 0)
        .withColumn("bucket", bucket)
        .join(F.broadcast(q), F.col("bucket") == F.col("qb"))
        .withColumn("cos_raw", cos)
        .orderBy(F.desc(F.round("cos_raw", 4)), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "bucket", F.round("cos_raw", 4).alias("cos_sim"))
    )


_WINNOW_W = 4


def _winnow_oracle() -> str:
    toks = duckdb_tokens("text")
    sh = shingles_col(toks, "duckdb")
    return f"""
    WITH hs AS (
      SELECT doc_id, list_transform({sh}, s -> md5(s)) AS hs
      FROM documents
    ), wins AS (
      SELECT doc_id,
             CASE WHEN len(hs) <= {_WINNOW_W} THEN [list_min(hs)]
                  ELSE list_transform(
                         generate_series(1, len(hs) - {_WINNOW_W} + 1),
                         i -> list_min(hs[i:i + {_WINNOW_W} - 1]))
             END AS sel
      FROM hs
    )
    SELECT doc_id, UNNEST(list_distinct(sel)) AS fp
    FROM wins
    """


@register("llm_text_winnow", oracle=_winnow_oracle(),
          tags=("llm", "text", "dedup"))
def llm_text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the rolling-hash document signature):
    hash every word-3-gram shingle, slide a window of w=4
    consecutive hashes, keep each window's minimum, dedupe — the
    guarantee is any shared run of ~w shingles between two documents
    yields at least one shared fingerprint, at ~1/w the storage of the
    full shingle set.

    Scale: pure per-document higher-order expressions (no shuffle at
    all until a consumer groups by fp to find matches); the fingerprint
    inverted index is the plagiarism/near-dup structure MOSS-style
    systems build, here one explode away.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens_col("text")
    sh = shingles_col(toks, "spark")
    hs = f"transform({sh}, s -> md5(s))"
    sel = (f"CASE WHEN size({hs}) <= {_WINNOW_W} THEN array(array_min({hs})) "
           f"ELSE transform(sequence(1, size({hs}) - {_WINNOW_W} + 1), "
           f"i -> array_min(slice({hs}, i, {_WINNOW_W}))) END")
    return d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(sel))).alias("fp"),
    )


_IVF_PROBES = 2


def _ivf_oracle() -> str:
    cos_rep = duckdb_cosine("r.embedding", "q.qe", DIM)
    cos_e = duckdb_cosine("e.embedding", "q.qe", DIM)
    return f"""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    reps AS (
      SELECT label, embedding FROM (
        SELECT label, embedding,
               ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
        FROM embeddings) t WHERE rn = 1
    ),
    probe AS (
      SELECT r.label FROM reps r CROSS JOIN q
      ORDER BY ROUND({cos_rep}, 4) DESC, r.label
      LIMIT {_IVF_PROBES}
    )
    SELECT e.vec_id AS vec_id, e.label AS label,
           ROUND({cos_e}, 4) AS cos_sim
    FROM embeddings e JOIN probe USING (label) CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY ROUND({cos_e}, 4) DESC, e.vec_id
    LIMIT 5
    """


@register("llm_simsearch_ivf", oracle=_ivf_oracle(),
          tags=("llm", "similarity", "ivf"))
def llm_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse cells (the ``label`` cluster id), one
    deterministic representative per cell (min vec_id), probe the
    nProbe=2 cells whose representatives score highest against the
    query, exact cosine top-5 within the probed cells only.

    Scale: the cell list is tiny (one row per cluster) and evaluates
    on the driver-broadcast side; the corpus scan touches ONLY probed
    cells — written partitioned by cell, that is partition pruning, so
    a 100 TB index reads nProbe/nCells of its bytes. This is the
    IVF-flat shape every vector store uses; the sign-bucket LSH twin
    (llm_simsearch_lsh) trades its trained cells for oblivious ones.
    """
    e = spread(load_table(spark, sf_dir, "embeddings")).withColumn(
        "nrm", F.expr(norm_expr("embedding", DIM)))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("nrm").alias("qn"))
    w = Window.partitionBy("label").orderBy("vec_id")
    reps = (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).select("label", "embedding", "nrm"))
    cos = F.expr(f"({dot_expr('embedding', 'qe', DIM)} / (nrm * qn))")
    probed = (reps.crossJoin(F.broadcast(q))
              .withColumn("cscore", cos)
              .orderBy(F.desc(F.round("cscore", 4)), F.asc("label"))
              .limit(_IVF_PROBES)
              .select("label"))
    return (
        e.join(F.broadcast(probed), "label")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", cos)
        .orderBy(F.desc(F.round("cos_raw", 4)), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "llm_text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {duckdb_tokens('text')} AS toks,
                      length(text) AS nchar
               FROM documents)
    SELECT doc_id, lang,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(nchar - (len(toks) - 1) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS avg_token_len,
           CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS unique_ratio
    FROM t
    """,
    tags=("llm", "text"),
)
def llm_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, mean token length,
    stopword ratio, type/token (unique) ratio — all lambda/higher-order
    builtins, zero Python. The standard pre-training quality-filter
    feature set."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.length("text").alias("nchar"),
                 F.expr(tokens_col("text")).alias("toks"))
    n = F.size("toks")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return t.select(
        "doc_id", "lang",
        n.cast("bigint").alias("n_tokens"),
        ((F.col("nchar") - (n - 1)).cast("double") / n.cast("double"))
        .alias("avg_token_len"),
        (F.size(F.filter("toks", lambda t_: F.array_contains(stop_arr, t_)))
         .cast("double") / n.cast("double")).alias("stopword_ratio"),
        (F.size(F.array_distinct("toks")).cast("double") / n.cast("double"))
        .alias("unique_ratio"),
    )


@register(
    "llm_text_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(len({duckdb_tokens('text')}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
    tags=("llm", "text"),
)
def llm_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    lexer (letter runs | digit runs | other symbols) — the cheap
    token-budget estimator for corpus sizing."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.expr(tokens_col("text"))).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
         .cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


@register(
    "llm_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({normalize_text('text', 'duckdb')}) AS fingerprint,
           COUNT(*) OVER (PARTITION BY md5({normalize_text('text', 'duckdb')}))
             AS n_same
    FROM documents
    """,
    tags=("llm", "text"),
)
def llm_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization fingerprint (lowercase, strip non-alnum, collapse
    whitespace, md5) — catches trivially-reformatted duplicates that
    exact hashing misses."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.expr(normalize_text("text", "spark")))
    return d.select(
        "doc_id", fp.alias("fingerprint"),
        F.count(F.lit(1)).over(Window.partitionBy(fp)).alias("n_same"),
    )


@register(
    "llm_text_langid",
    oracle="""
    SELECT doc_id, lang,
           CASE WHEN contains(text, ' le ') OR contains(text, ' la ')
                  OR contains(text, ' et ') THEN 'fr'
                WHEN contains(text, ' el ') OR contains(text, ' los ')
                  OR contains(text, ' y ') THEN 'es'
                WHEN contains(text, ' der ') OR contains(text, ' und ')
                  OR contains(text, ' die ') THEN 'de'
                WHEN contains(text, ' de ') THEN 'es'
                ELSE 'en' END AS pred_lang,
           (CASE WHEN contains(text, ' le ') OR contains(text, ' la ')
                  OR contains(text, ' et ') THEN 'fr'
                WHEN contains(text, ' el ') OR contains(text, ' los ')
                  OR contains(text, ' y ') THEN 'es'
                WHEN contains(text, ' der ') OR contains(text, ' und ')
                  OR contains(text, ' die ') THEN 'de'
                WHEN contains(text, ' de ') THEN 'es'
                ELSE 'en' END) = lang AS is_correct
    FROM documents
    """,
    tags=("llm", "text"),
)
def llm_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language-ID heuristic (first-match CASE over
    per-language function words, English default) — deterministic and
    vectorized; accuracy is reported against the dataset's lang label.
    (The synthetic corpus is English-vocabulary, so the heuristic's
    predictions skew 'en' — the is_correct column measures that
    honestly.)"""
    d = load_table(spark, sf_dir, "documents")
    has = lambda s: F.col("text").contains(s)  # noqa: E731
    pred = (
        F.when(has(" le ") | has(" la ") | has(" et "), "fr")
        .when(has(" el ") | has(" los ") | has(" y "), "es")
        .when(has(" der ") | has(" und ") | has(" die "), "de")
        .when(has(" de "), "es")
        .otherwise("en")
    )
    return d.select(
        "doc_id", "lang", pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_correct"),
    )


@register(
    "llm_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST({duckdb_tokens('text')}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS DOUBLE)
               * ((CAST(n.n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
                  / (CAST(df.df AS DOUBLE) + 0.5)) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, ROUND(score, 6) AS score, rn AS term_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rn
          FROM scored) t
    WHERE rn <= 3
    """,
    tags=("llm", "text", "tfidf"),
)
def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf-style term scoring, top-3 terms per document. The idf is
    the BM25 rational form ((N-df+0.5)/(df+0.5)) — no transcendental
    functions, so scores are bit-identical across engines.

    Scale: ONE tokenize pass. tf is a (doc,term) aggregate; df is a
    window count over the tf rowset (tf rows are distinct per
    (doc,term), so count-per-term IS the document frequency) — no
    second aggregate subtree, no join, and the explode never runs
    twice (Catalyst does not reuse the tf exchange across an
    aggregate/probe split, measured 6 scans / 4 explodes in the
    two-aggregate form vs 1 each here). Trade-off: the term-partition
    window shuffles full tf rows where the df aggregate would shuffle
    map-side partial counts — the right trade because tokenization
    dominates per-row cost (same doctrine as the rejected
    redistribution experiment in DESIGN.md); shuffle-bound corpora
    should flip back to a checkpointed tf + two aggregates.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = d.select("doc_id", F.explode(F.expr(tokens_col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf").cast("double")
             * ((F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
                / (F.col("df").cast("double") + 0.5)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n))
        .withColumn("score", score)
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "term", F.round("score", 6).alias("score"), "term_rank")
    )


# --------------------------------------------------------------------------
# multimodal columns
# --------------------------------------------------------------------------


@register(
    "llm_multimodal_meta",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text) AS payload_sha256,
           substring(sha256(text), 1, 16) AS payload_prefix
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary multimodal column plumbing: payload as ``binary``
    with typed metadata (byte length, content digest) — the schema
    pattern for image/audio/video blobs riding next to scalars. The
    digest/length math runs on the binary payload JVM-side; the decode /
    feature-extract paths are the real Arrow-batched codecs in
    operators.multimodal (WAV / PPM / Y4M), each driver- or
    pytest-verified."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    sha = F.sha2(payload, 256)
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("byte_len"),
        sha.alias("payload_sha256"),
        F.substring(sha, 1, 16).alias("payload_prefix"),
    )


@register(
    "llm_multimodal_audio",
    oracle="""
    SELECT doc_id AS asset_id,
           8000 AS sr,
           1 AS n_channels,
           CAST(160 + (doc_id % 64) * 16 AS BIGINT) AS n_samples,
           CAST((160 + (doc_id % 64) * 16) // 8 AS BIGINT) AS duration_ms,
           CAST(1000 + doc_id % 9000 AS DOUBLE) AS rms,
           CAST(1000 + doc_id % 9000 AS INT) AS peak,
           CAST((160 + (doc_id % 64) * 16) // 4 - 1 AS BIGINT)
             AS zero_crossings,
           CAST((160 + (doc_id % 64) * 16) // 2 AS BIGINT) AS rs_n_samples,
           CAST(1000 + doc_id % 9000 AS DOUBLE) AS rs_rms
    FROM documents
    WHERE doc_id % 20 = 0
    """,
    tags=("llm", "multimodal", "audio"),
)
def llm_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec tier: synthesize a PCM16 WAV per sampled
    document (square wave parameterized by doc_id), then decode the
    container with stdlib ``wave``, measure the samples (RMS / peak /
    zero-crossings / duration), decimate-resample by 2, and re-decode
    the resampled bytes. Every reported number comes from decoding
    actual WAV bytes; the oracle knows the closed-form values the
    synthesis guarantees (±A square wave → RMS exactly A; period 8 →
    n/4 - 1 sign changes; decimation halves samples, keeps RMS). Image
    and video have their own real codec tiers (PPM / Y4M, see
    llm_multimodal_image / llm_multimodal_video) — no modality is
    stubbed.

    Scale: encode/decode/resample all run as Arrow-batched mapInPandas
    stages; payload bytes never cross to the driver, and the final
    join is id-to-id on co-partitioned UDF outputs.
    """
    from ..operators.multimodal import (audio_features, resample_audio,
                                        synth_audio_media)

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == 0))
    media = synth_audio_media(docs)
    feats = audio_features(media)
    rs_feats = (audio_features(resample_audio(media, factor=2))
                .select(F.col("asset_id").alias("rs_id"),
                        F.col("n_samples").alias("rs_n_samples"),
                        F.col("rms").alias("rs_rms")))
    return (feats.join(rs_feats, feats.asset_id == rs_feats.rs_id)
            .select("asset_id", "sr", "n_channels", "n_samples",
                    "duration_ms", "rms", "peak", "zero_crossings",
                    "rs_n_samples", "rs_rms"))


@register(
    "llm_multimodal_image",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(8 + (doc_id % 29) * 2 AS INT) AS width,
           CAST(6 + (doc_id % 13) * 2 AS INT) AS height,
           CAST((8 + (doc_id % 29) * 2) * (6 + (doc_id % 13) * 2)
                AS BIGINT) AS n_pixels,
           CAST(150 AS DOUBLE) AS mean_r,
           CAST((doc_id * 7) % 256 AS DOUBLE) AS mean_g,
           CAST(8 + (doc_id % 29) * 2 - 1 AS DOUBLE) AS mean_b,
           CAST(GREATEST(200, (doc_id * 7) % 256) AS INT) AS max_px,
           CAST((8 + (doc_id % 29) * 2) // 2 AS INT) AS rs_width,
           CAST(200 AS DOUBLE) AS rs_mean_r,
           CAST(8 + (doc_id % 29) * 2 - 2 AS DOUBLE) AS rs_mean_b
    FROM documents
    WHERE doc_id % 20 = 0
    """,
    tags=("llm", "multimodal", "image"),
)
def llm_multimodal_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec tier (mirrors llm_multimodal_audio): synthesize
    a binary PPM (P6) per sampled document — checkerboard red channel,
    solid green, horizontal blue ramp, all parameterized by doc_id —
    then decode the container byte-for-byte, measure the pixels
    (dimensions / per-channel means / peak), nearest-neighbor
    downsample by 2 into a new valid PPM, and re-decode the resized
    bytes. Every reported number comes from decoding actual PPM bytes;
    the oracle knows the closed-form values the synthesis guarantees
    (even-dimension checkerboard → mean exactly 150; ramp B(x)=2x →
    mean exactly W-1; even-index NN gather keeps only HI squares →
    resized mean exactly 200). Video has its own real codec tier too
    (uncompressed Y4M, llm_multimodal_video) — no modality is
    stubbed.

    Scale: encode/decode/resize all run as Arrow-batched mapInPandas
    stages; payload bytes never cross to the driver, and the final
    join is id-to-id on co-partitioned UDF outputs.
    """
    from ..operators.multimodal import (image_features, resize_image,
                                        synth_image_media)

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == 0))
    media = synth_image_media(docs)
    feats = image_features(media)
    rs = (image_features(resize_image(media, factor=2))
          .select(F.col("asset_id").alias("rs_id"),
                  F.col("width").alias("rs_width"),
                  F.col("mean_r").alias("rs_mean_r"),
                  F.col("mean_b").alias("rs_mean_b")))
    return (feats.join(rs, feats.asset_id == rs.rs_id)
            .select("asset_id", "width", "height", "n_pixels",
                    "mean_r", "mean_g", "mean_b", "max_px",
                    "rs_width", "rs_mean_r", "rs_mean_b"))


@register(
    "llm_multimodal_video",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(8 + (doc_id % 17) * 2 AS INT) AS width,
           CAST(6 + (doc_id % 11) * 2 AS INT) AS height,
           CAST(2 + doc_id % 7 AS INT) AS n_frames,
           CAST(25 AS INT) AS fps,
           CAST((2 + doc_id % 7) * 40 AS BIGINT) AS duration_ms,
           CAST((doc_id * 13) % 64
                + (4 + (doc_id % 5) * 4) * (1 + doc_id % 7) / 2.0
                + (8 + (doc_id % 17) * 2 - 1) / 2.0 AS DOUBLE) AS mean_y,
           CAST(4 + (doc_id % 5) * 4 AS DOUBLE) AS motion,
           CAST((doc_id * 13) % 64
                + (4 + (doc_id % 5) * 4) * (1 + doc_id % 7)
                + 8 + (doc_id % 17) * 2 - 1 AS INT) AS max_y,
           CAST((3 + doc_id % 7) // 2 AS BIGINT) AS n_sampled,
           CAST((doc_id * 13) % 64
                + (4 + (doc_id % 5) * 4) * ((3 + doc_id % 7) // 2 - 1)
                + (8 + (doc_id % 17) * 2 - 1) / 2.0 AS DOUBLE)
             AS sampled_mean_y
    FROM documents
    WHERE doc_id % 20 = 0
    """,
    tags=("llm", "multimodal", "video"),
)
def llm_multimodal_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video codec tier (completes the WAV/PPM family): synthesize
    a Cmono Y4M (YUV4MPEG2) stream per sampled document — per-frame
    horizontal luma ramps advancing by a per-doc step — then demux the
    container byte-for-byte, measure the planes (geometry / duration /
    mean luma / inter-frame motion), sample every 2nd frame out as a
    standalone PGM image, decode THOSE bytes back, and aggregate the
    per-frame means. Every reported number comes from demuxing actual
    Y4M container bytes (and re-decoding the sampled PGM frames); the
    oracle knows the closed-form values the synthesis guarantees
    (ramp mean = base + step*(n-1)/2 + (W-1)/2 exactly; shifted-ramp
    motion = step exactly; sampled frames 0,2,..,2(k-1) average to
    base + step*(k-1) + (W-1)/2 exactly — no wraparound, max luma 242).

    Scale: encode/demux/frame-sample all run as Arrow-batched
    mapInPandas stages; payload bytes never cross to the driver, the
    per-frame expansion is bounded by max_frames inside the batch, and
    the final join is id-to-id on co-partitioned UDF outputs.
    """
    from ..operators.multimodal import (frame_luma_stats, sample_frames,
                                        synth_video_media, video_features)

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == 0))
    media = synth_video_media(docs)
    feats = video_features(media)
    sampled = (frame_luma_stats(sample_frames(media, every_n=2,
                                              max_frames=8))
               .groupBy("asset_id")
               .agg(F.count("*").cast("bigint").alias("n_sampled"),
                    F.avg("frame_mean").alias("sampled_mean_y"))
               .withColumnRenamed("asset_id", "s_id"))
    return (feats.join(sampled, feats.asset_id == sampled.s_id)
            .select("asset_id", "width", "height", "n_frames", "fps",
                    "duration_ms", "mean_y", "motion", "max_y",
                    "n_sampled", "sampled_mean_y"))


# --------------------------------------------------------------------------
# dataset assembly: splits, sampling, decontamination
# --------------------------------------------------------------------------


@register(
    "llm_split_train_eval",
    oracle="""
    SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                     AS INT) % 10 < 9
                THEN 'train' ELSE 'eval' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY 1
    """,
    tags=("llm", "split"),
)
def llm_split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/eval split by content-free id hash
    (md5 byte mod 10) — reproducible across runs, engines, and cluster
    sizes, unlike ``df.randomSplit`` (partition-dependent). The split
    column is a pure projection, so assignment never shuffles and any
    engine recomputes identical membership.

    Scale: this is THE safe way to split 100 TB — no global sort, no
    sampling pass, no state; bucketing eval re-use is free because
    membership is a function of the key alone.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
                    16, 10).cast("int") % 10
    return (
        d.select(F.when(bucket < 9, "train").otherwise("eval").alias("split"),
                 "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min("doc_id").alias("min_doc_id"),
             F.max("doc_id").alias("max_doc_id"))
    )


@register(
    "llm_sample_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
          % 100 < 5
    """,
    tags=("llm", "sample"),
)
def llm_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% uniform sample by id hash — the reproducible
    alternative to ``df.sample`` for eval sets and quick-look pipelines.
    A pure pushed-down filter: no shuffle, no RNG state, same rows on
    every engine and cluster size."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                    16, 10).cast("int") % 100
    return d.filter(bucket < 5).select("doc_id", "lang", "n_chars")


#: per-language keep-rates (percent) for the stratified sample: the
#: corpus is ~44% English; a training mix typically downsamples the
#: dominant language and keeps the tail. CASE-dispatched so both
#: engines evaluate the identical literal table.
_STRATA_RATES = {"en": 35, "zh": 80, "es": 80, "de": 80, "fr": 80}

_STRATA_CASE = ("CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items()) + " ELSE 10 END")


@register(
    "llm_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INT)
          % 100 < {_STRATA_CASE}
    """,
    tags=("llm", "sample"),
)
def llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample — the language-rebalancing step
    of a training-data mix: each language keeps a configured fraction
    (downsample dominant English, keep the tail), selected by id-hash
    bucket rather than RNG so the mix is reproducible on any engine
    and any cluster size.

    Scale: like llm_sample_hash this is a pure pushed-down filter (the
    CASE rate table is a literal) — no shuffle, no RNG state, no
    per-stratum pass; resampling a 100 TB corpus is one scan.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
                    16, 10).cast("int") % 100
    return (d.filter(bucket < F.expr(_STRATA_CASE))
            .select("doc_id", "lang", "source", "n_chars"))


def _decontam_oracle() -> str:
    toks = duckdb_tokens("text")
    sh = shingles_col(toks, "duckdb")
    return f"""
    WITH bench AS (
      SELECT DISTINCT UNNEST({sh}) AS s FROM documents WHERE doc_id < 5
    ),
    corpus AS (
      SELECT doc_id, UNNEST(list_distinct({sh})) AS s
      FROM documents WHERE doc_id >= 5
    )
    SELECT c.doc_id AS doc_id,
           COUNT(DISTINCT c.s) AS n_hits
    FROM corpus c JOIN bench b ON c.s = b.s
    GROUP BY c.doc_id
    """


@register("llm_decontaminate", oracle=_decontam_oracle(),
          tags=("llm", "dedup", "decontam"))
def llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word-3-gram shingle with a held-out benchmark set (here: doc_id<5
    stands in for the benchmark) and count overlapping shingles — the
    n-gram-overlap contamination check every pre-training pipeline runs
    before shipping an eval.

    Scale: the benchmark shingle set is tiny relative to the corpus and
    BROADCASTS; the corpus side streams through a broadcast semi-match
    with no shuffle of corpus bytes — contamination checking at 100 TB
    is a map-side join plus one count aggregate.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = tokens_col("text")
    sh_expr = F.array_distinct(F.expr(shingles_col(toks, "spark")))
    bench = (d.filter(F.col("doc_id") < 5)
             .select(F.explode(sh_expr).alias("s")).distinct())
    corpus = (d.filter(F.col("doc_id") >= 5)
              .select("doc_id", F.explode(sh_expr).alias("s")))
    return (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_hits"))
    )


# --------------------------------------------------------------------------
# quality signals: repetition, scrubbing, sequence packing
# --------------------------------------------------------------------------


@register(
    "llm_text_repetition",
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) AS dup_token_ratio,
           1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)
                 / CAST(len(bigrams) AS DOUBLE) AS dup_bigram_ratio
    FROM (
      SELECT doc_id, toks,
             CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(generate_series(1, len(toks) - 1),
                       i -> concat_ws(' ', toks[i], toks[i + 1])) END AS bigrams
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t1
    ) t2
    """,
    tags=("llm", "quality"),
)
def llm_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rules shape): duplicate
    token fraction and duplicate bigram fraction per document — high
    values flag boilerplate/spam for filtering before pre-training.

    Scale: pure array expressions (split / distinct / transform) —
    ZERO shuffle, per-row map work inside codegen; quality-scoring
    100 TB costs exactly one pass over the bytes.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.expr(
        "CASE WHEN size(split(text, ' ')) < 2 "
        "THEN array(concat_ws(' ', split(text, ' '))) "
        "ELSE transform(sequence(0, size(split(text, ' ')) - 2), "
        "i -> concat_ws(' ', element_at(split(text, ' '), i + 1), "
        "element_at(split(text, ' '), i + 2))) END")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double")
         / F.size(toks).cast("double")).alias("dup_token_ratio"),
        (F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double")
         / F.size(bigrams).cast("double")).alias("dup_bigram_ratio"),
    )


@register(
    "llm_text_scrub",
    oracle="""
    SELECT doc_id,
           CAST(length(dirty) AS BIGINT) AS n_chars_dirty,
           CAST(length(regexp_replace(dirty,
                '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+', '<EMAIL>', 'g'))
                AS BIGINT) AS n_chars_clean,
           dirty <> regexp_replace(dirty,
                '[a-z0-9.]+@[a-z0-9.]+[.][a-z]+', '<EMAIL>', 'g')
             AS was_scrubbed
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                              '@example.com now')
                  ELSE text END AS dirty
      FROM documents
    ) t
    """,
    tags=("llm", "quality"),
)
def llm_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: replace email addresses with a placeholder tag and
    report per-document before/after sizes. The corpus is synthetic and
    clean, so a deterministic contamination step (docs with id%7==0 get
    an appended address) makes the scrub observable — identical
    injection and identical regex on both engines, no trivial pass.

    Scale: regexp_replace is a per-row codegen expression — scrubbing
    is shuffle-free and composes with the repetition/quality filters in
    the same single pass.
    """
    d = load_table(spark, sf_dir, "documents")
    dirty = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" contact user"),
                 F.col("doc_id").cast("string"), F.lit("@example.com now"))
    ).otherwise(F.col("text"))
    clean = F.regexp_replace(dirty, "[a-z0-9.]+@[a-z0-9.]+[.][a-z]+",
                             "<EMAIL>")
    return d.select(
        "doc_id",
        F.length(dirty).cast("bigint").alias("n_chars_dirty"),
        F.length(clean).cast("bigint").alias("n_chars_clean"),
        (dirty != clean).alias("was_scrubbed"),
    )


@register(
    "llm_pack_sequences",
    oracle="""
    SELECT lang,
           CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM (
      SELECT lang, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM documents
    ) t
    GROUP BY lang, bin_id
    """,
    tags=("llm", "pack"),
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: assign documents (per language, in
    deterministic doc_id order) to ~2048-token bins by exclusive-start
    running token count, then report per-bin document/token totals —
    the batch-packing layout step before tokenized examples are
    written.

    Scale: one shuffle on the packing partition key (lang here; a
    production pipeline packs per shard = (lang, hash-bucket) so
    partitions stay bounded), a per-partition sort, and integer-only
    window arithmetic — no floats, no cross-engine drift.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("bigint")
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(n_tokens).over(w)
    return (
        d.select("lang", "doc_id", n_tokens.alias("n_tokens"),
                 cum.alias("cum_tokens"))
        .select("lang", "n_tokens",
                F.expr("(cum_tokens - n_tokens) DIV 2048").alias("bin_id"))
        .groupBy("lang", "bin_id")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("bin_tokens"))
    )

"""Deterministic corpus sampling (SURVEY §2.2 (†) — training-data pipeline
surface; absent from the reference, which has no sampling operator).

The core primitive is a content-keyed uniform bucket: the first two hex
digits of ``md5(text)`` are a uniform value in ['00'..'ff'] computed
identically by every engine — so a sample is reproducible across engines,
re-runs, and cluster sizes, and is a pure narrow filter (no shuffle, no RNG
state, no seed plumbing). This is how production pipelines sample at 100 TB:
``spark.sample()``'s per-partition RNG changes membership when partitioning
changes; a content hash never does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gmr_spark.sources.tables import load_tables

# per-stratum keep thresholds on the md5-prefix bucket (hex string compare):
# dominant language downsampled to 16/256, the rest kept at 128/256 — the
# standard "rebalance the language mix" move for multilingual corpora.
STRATA_THRESHOLDS = {"en": "10"}
DEFAULT_THRESHOLD = "80"


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source): deterministic stratified sample of the
    documents table — per-language rates via content-hash bucketing."""
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = F.substring(F.md5(F.col("text")), 1, 2)
    thresh = F.lit(DEFAULT_THRESHOLD)
    for lang, t in STRATA_THRESHOLDS.items():
        thresh = F.when(F.col("lang") == lang, t).otherwise(thresh)
    return docs.filter(bucket < thresh).select("doc_id", "lang", "source")


PACK_CAPACITY = 512


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, doc_id, n_words, pack_id, pack_offset): contiguous-fill
    sequence packing — assign documents to fixed-capacity context windows
    (capacity 512 words) in a deterministic order, the preprocessing step
    between tokenization and batch assembly in every training pipeline.

    Deterministic contiguous-fill (not first-fit-decreasing, which needs a
    sequential scan): docs are ordered by doc_id within a language, each
    pack is filled greedily in that order, and a doc longer than the
    remaining space starts a new pack. That rule is expressible as pure
    window arithmetic when every doc fits capacity (docs longer than
    capacity are truncated to it, standard practice): pack boundaries fall
    where the running word count crosses a capacity multiple, i.e.
    pack_id = floor((cumsum_before + len) / capacity) under
    truncated-greedy — here implemented with the simpler and
    shift-invariant rule pack_id = floor(cumsum_before / capacity)
    (each pack may overflow by at most one doc's tail, the "packed with
    spillover" variant used when documents are split across windows).

    Scale: ONE shuffle (partition by lang); the window is per-language —
    bounded-width partitions at corpus scale come from sharding the key
    further (lang, doc_id div N), the same move as every keyed window
    here."""
    docs = load_tables(spark, sf_dir)["documents"]
    return packing_frame(docs)


def packing_frame(docs: DataFrame) -> DataFrame:
    """Core of :func:`sequence_packing` over any (lang, doc_id, text) frame
    — split out (the unigram_lm_frame pattern) so a composed curation
    pipeline can pack the post-dedup, post-filter SURVIVOR set: packing is
    order-dependent (pack boundaries are running sums), so packing the full
    corpus and filtering afterwards would yield holes in packs, not the
    packs a training job would actually build (the ``pipeline`` family of
    scripts/scale.py chains
    dedup -> quality filter -> this)."""
    from pyspark.sql import Window as W

    n_words = F.least(
        F.size(F.filter(F.split("text", " "), lambda x: x != "")),
        F.lit(PACK_CAPACITY),
    )
    w = W.partitionBy("lang").orderBy("doc_id")
    sized = docs.select("lang", "doc_id", n_words.alias("n_words"))
    cum_before = F.coalesce(
        F.sum("n_words").over(w.rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return sized.select(
        "lang", "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.floor(cum_before / PACK_CAPACITY).cast("long").alias("pack_id"),
        (cum_before % PACK_CAPACITY).cast("long").alias("pack_offset"),
    )


# train/validation split: bucket = first 4 hex digits of a SEEDED content
# md5 (0..65535); val iff bucket < VAL_BUCKETS (6554/65536 ≈ 10.0%). The
# "split:" prefix de-correlates the deal from every other md5-bucket use of
# the same text in this module (an unseeded md5 would make val membership
# correlate with stratified/temperature sample membership).
SPLIT_BUCKETS = 65536
VAL_BUCKETS = 6554
SPLIT_SEED = "split:"


def leakage_safe_split(spark: SparkSession, sf_dir: str, *,
                       min_jaccard: float = 0.1) -> DataFrame:
    """(doc_id, rep_id, bucket, split): train/validation split that cannot
    leak near-duplicates across the boundary — the split decision is made
    once per near-dup CLUSTER (``dup_clusters``'s transitive closure over
    MinHash-LSH verified pairs), not per document, so A~B, B~C land the
    whole chain {A,B,C} on one side even when A~C is below threshold.
    A naive uniform split straddles ~2·p·(1-p) ≈ 18% of dup pairs at
    p=10% validation — that is test-set contamination, the thing held-out
    evaluation exists to prevent (the reason Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" §5 measure
    train/test overlap; same hygiene as ``contamination_check``, applied
    at corpus-split time).

    Split key: the cluster REPRESENTATIVE's text (min-id member; for the
    vast singleton majority, the doc's own text), hashed with the module's
    seeded-md5 bucket — content-keyed like every sampler here, so
    membership survives re-runs, repartitioning, and (for singletons and
    exact-copy groups) corpus renumbering. Exact copies share one
    signature, hence one cluster, hence structurally one side; near-dup
    straddle is bounded by LSH banding recall alone (measured 3/40,000
    pairs missed at 2M docs — the ``split`` family of scripts/scale.py).

    Scale: one corpus scan + cluster-sized joins. The rep-text fetch joins
    only CLUSTER MEMBERS (|dup docs|, far below corpus scale) against the
    rep ids; singletons hash their own text with no join at all. The
    cluster chain itself is the memoized ``dedup_minhash`` →
    ``connected_components`` pipeline every dedup operator shares.

    r14 promotion note: the DuckDB twin composes the existing
    DUP_CLUSTERS recursive-CTE twin with
    ``CAST('0x' || substr(md5('split:' || rep_text), 1, 4) AS BIGINT)``
    (the dsir_select hex-cast pattern) — declared-query registration
    deferred to round 14 because the round-13 rotation window is an exact
    fit (8 changed + 2 new + 39 r10 = 50).
    """
    from gmr_spark.operators.dedup import dup_clusters

    docs = load_tables(spark, sf_dir)["documents"]
    clusters = dup_clusters(spark, sf_dir, min_jaccard=min_jaccard).select(
        "doc_id", "cluster_id")
    base = docs.select("doc_id", "text").join(clusters, "doc_id", "left")
    # singletons: rep = self, rep_text = own text — no join. Cluster
    # members: fetch the representative's text with cluster-sized joins.
    singles = base.filter(F.col("cluster_id").isNull()).select(
        "doc_id", F.col("doc_id").alias("rep_id"),
        F.col("text").alias("rep_text"))
    reps = docs.select(F.col("doc_id").alias("rep_id"),
                       F.col("text").alias("rep_text")).join(
        clusters.select(F.col("cluster_id").alias("rep_id")).distinct(),
        "rep_id")
    members = base.filter(F.col("cluster_id").isNotNull()).select(
        "doc_id", F.col("cluster_id").alias("rep_id")).join(reps, "rep_id")
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit(SPLIT_SEED), F.col("rep_text"))),
                    1, 4), 16, 10).cast("long")
    return (singles.unionByName(members.select("doc_id", "rep_id", "rep_text"))
            .select("doc_id", "rep_id", bucket.alias("bucket"),
                    F.when(bucket < VAL_BUCKETS, F.lit("val"))
                     .otherwise(F.lit("train")).alias("split")))


# epoch sharding: 8 hex digits of the epoch-seeded content md5 — a 32-bit
# uniform key that is both the shard assignment (mod n_shards) and the
# within-shard order (the "global shuffle" a training run reads in).
N_SHARDS = 64


def epoch_shards(spark: SparkSession, sf_dir: str, *,
                 n_shards: int = N_SHARDS, epoch: int = 0) -> DataFrame:
    """(doc_id, shard, seq): deterministic per-epoch global shuffle into
    N shard streams — the layout step between a curated corpus and a
    distributed trainer's data loaders. Each of the N workers reads one
    shard in seq order; together they traverse a pseudo-random permutation
    of the corpus that is REPRODUCIBLE (content-keyed, like every sampler
    here: re-runs, repartitioning, and cluster-size changes cannot re-deal
    it) yet DIFFERENT each epoch (the epoch seeds the hash — the
    "reshuffle every epoch" training requirement, without any RNG state
    to checkpoint or broadcast).

    Shard balance is hash uniformity: E[|shard|] = corpus/N with binomial
    concentration, so no worker becomes the straggler. Within a shard,
    ordering by the hash itself (doc_id as the tiebreak for identical
    texts) is the shuffle; a trainer resuming mid-epoch seeks to a seq
    offset — no stored permutation array, which at 100 TB would itself be
    a multi-TB table to shuffle.

    Scale: one exchange (the per-shard window); n_shards IS the
    parallelism knob — a 100 TB corpus runs the same plan at n_shards ~
    loader-count × a small multiple so each window partition stays
    executor-sized. No joins, no Python.

    r14 promotion note: the DuckDB twin is ROW_NUMBER() OVER (PARTITION
    BY shard ORDER BY h, doc_id) over
    ``CAST('0x' || substr(md5('epoch:0:' || text), 1, 8) AS BIGINT)`` —
    the dsir_select hex-cast pattern; deferred with
    :func:`leakage_safe_split` for the same rotation-window reason.
    """
    from pyspark.sql import Window as W

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    docs = load_tables(spark, sf_dir)["documents"]
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"epoch:{int(epoch)}:"),
                                   F.col("text"))), 1, 8),
        16, 10).cast("long")
    keyed = docs.select("doc_id", h.alias("h"),
                        (h % n_shards).cast("int").alias("shard"))
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return keyed.select(
        "doc_id", "shard",
        F.row_number().over(w).cast("long").alias("seq"))


MIX_ALPHA = 0.5  # 1/T with temperature T=2 — the standard flattening


def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source): temperature-flattened source mixture — keep
    probability per source ∝ n_source^(α-1), normalized so the smallest
    source keeps everything (α = 1/T; the public data-mixture recipe used
    to stop head sources drowning tail sources in multi-corpus training
    sets). Unlike ``stratified_sample``'s FIXED per-language thresholds,
    the rates here are derived FROM the data (two-pass: per-source counts,
    then a content-hash-thresholded filter).

    Determinism: the weight n^(α-1) with α=0.5 is computed as
    1/sqrt(n) — sqrt and division are IEEE-754 correctly-rounded on every
    conforming platform, unlike pow(x, -0.5) (JVM Math.pow and libm pow
    are only ~1-ulp accurate and may round a boundary case differently,
    flipping the floor() below by one bucket). Both engines therefore
    compute identical doubles; membership compares an integer hash bucket
    (first 2 md5 nibbles, 0..255) against floor(rate·256) — reproducible
    across engines, re-runs, and partitionings, like every sampler here.
    (A general α would need an integer-exact reformulation; 0.5 keeps the
    correctly-rounded path.)

    Scale: the counts aggregate is map-side combinable; the threshold table
    is |sources| rows (broadcast); the filter is narrow."""
    docs = load_tables(spark, sf_dir)["documents"]
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    weight = F.lit(1.0) / F.sqrt(F.col("n").cast("double"))
    mx = counts.agg(F.max(weight).alias("w_max"))
    thresholds = (
        counts.crossJoin(F.broadcast(mx))
        .select(
            "source",
            F.floor(weight / F.col("w_max") * 256).cast("long").alias("thr"),
        )
    )
    h = F.md5(F.col("text"))
    nib = "0123456789abcdef"
    bucket = (
        (F.instr(F.lit(nib), F.substring(h, 1, 1)) - 1) * 16
        + (F.instr(F.lit(nib), F.substring(h, 2, 1)) - 1)
    ).cast("long")
    return (
        docs.join(F.broadcast(thresholds), "source")
        .filter(bucket < F.col("thr"))
        .select("doc_id", "lang", "source")
    )

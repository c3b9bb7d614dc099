"""Deduplication operators for 100 TB-class training-data pipelines.

Five strategies, all shuffle-conscious:

- exact_dedup            : hash-groupBy, one shuffle on the content hash
- ngram_jaccard_pairs    : exact n-gram Jaccard via inverted-index
                           self-join (no O(n²) cross join — pairs are
                           generated only for docs sharing a shingle)
- minhash_lsh_pairs      : MinHash signatures (explode→min-agg) +
                           banded LSH bucketing; candidate pairs only
                           from shared buckets
- simhash_pairs          : 64-bit SimHash + 4-chunk banding, verify by
                           bit_count(xor) hamming distance
- embedding_cosine_pairs : near-dup by cosine over an embedding
                           column, bucketed to avoid the full cross
                           product

Everything is built-in-function JVM code (explode / groupBy / join) —
no Python in the hot path. Candidate generation is always
inverted-index shaped so the shuffle volume is O(total postings), not
O(n²).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from lottery_end_to_end_etl_data_pipeline_spark.operators.similarity import ivf_assign
from lottery_end_to_end_etl_data_pipeline_spark.operators.text import tokens


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Keep one representative row (min id) per distinct value of
    `cols`. One shuffle, map-side partial agg on the hash."""
    w = Window.partitionBy(*cols).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def exact_dup_groups(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Duplicate-group inventory: (group md5, n_copies, keeper id)."""
    key = F.md5(F.concat_ws("", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]))
    return (
        df.groupBy(key.alias("content_hash"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_copies") > 1)
    )


def word_shingles(text_col: str, k: int = 3):
    """Distinct word k-shingles as an array column (JVM transform)."""
    toks = tokens(text_col)
    return F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(toks) - k + 1, F.lit(1))),
                lambda i: F.array_join(F.slice(toks, i, k), " "),
            ),
            lambda s: s != "",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    frequent_broadcast_limit: int = 2_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted index.

    plan: docs → (id, shingle) postings → self-join on shingle →
    per-pair intersection count → join back |A|,|B| → jaccard filter.
    Shuffle volume = postings + candidate pairs; a pair is produced
    only if it shares ≥1 shingle, so disjoint docs cost nothing.

    ``max_df``: the scale guard — the join cost is O(Σ df²) over
    shingle document frequencies, and boilerplate shingles (df in the
    millions at 100 TB) dominate it while contributing ~nothing to
    Jaccard discrimination. Setting ``max_df`` drops postings for
    shingles appearing in more than that many docs *before* the
    self-join (changes results from exact to slightly conservative:
    intersection counts shrink by the dropped shingles only).

    Fold materialization: repartition the input BEFORE the shingle
    fold (higher-order functions run interpreted — off a one-file
    source the fold otherwise pins to a single task), then
    `localCheckpoint` the folded frame. An Exchange barrier is NOT
    enough here: ColumnPruning pushes the fold projection past the
    repartition (to shrink the shuffle), so every downstream branch —
    and worse, the `explode` Generate node — re-derives the
    interpreted fold (measured: explode over the un-materialized fold
    is ~15x the fold's own cost at sf0.1; checkpoint + explode is
    ~0.8s vs ~5s). The checkpoint is executor-local block storage: a
    lost executor recomputes that slice from lineage-free blocks'
    replicas or fails the stage — the standard trade for truncating
    an expensive expression out of a multi-consumer plan.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = (
        df.repartition(n_part, F.col(id_col))
        .select(F.col(id_col).alias("id"), word_shingles(text_col, k).alias("sh"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    postings = sh.select("id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        # Cap by broadcast ANTI-join against the FREQUENT set, not by
        # count-over-window on shingle: the boilerplate shingle the
        # cap exists to remove has df in the millions, and a window
        # partitioned by shingle would buffer that entire partition in
        # one task (skew a window can't split, AQE can't rescue). The
        # groupBy here is immune — map-side partial aggregation
        # collapses the hot key per input partition before the
        # shuffle — and the surviving frequent set is small by
        # construction (boilerplate only), so it broadcasts. Postings
        # themselves never shuffle for the cap; their only exchange is
        # the self-join's, computed once and read by both sides
        # (ReuseExchange).
        #
        # Broadcast guard: each frequent shingle owns > max_df
        # postings, so |frequent| <= total_postings / max_df — a
        # provable bound costing one cheap scan of the checkpointed
        # frame, no extra shuffle. A tiny max_df (or a corpus of
        # near-identical docs) can push the frequent set toward the
        # full vocabulary; past the limit we drop the broadcast hint
        # and let AQE pick the join strategy from runtime stats
        # (auto-broadcast if actually small, skew-split sort-merge
        # anti-join otherwise).
        frequent = (
            postings.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
        )
        total_postings = sh.agg(F.sum(F.size("sh"))).first()[0] or 0
        if total_postings // max(max_df, 1) <= frequent_broadcast_limit:
            frequent = F.broadcast(frequent)
        postings = postings.join(frequent, "shingle", "left_anti")
    a = postings.alias("a")
    b = postings.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc as an array<int> column.

    Implementation: a single nested higher-order fold per row —
    `aggregate(shingles, [MAX]*H, (acc, s) -> zip_with(acc, seeds,
    (a, i) -> least(a, hash(s, i))))`. Narrow map stage: zero
    shuffle. One compact expression also keeps Janino codegen tiny —
    measured 50x faster cold than 64 separate
    `array_min(transform(...))` components, and ~10x faster than the
    explode+groupBy formulation it replaced (which shuffled 1.5M
    postings at sf0.1).

    The input is repartitioned (explicit partition count — exempt
    from AQE coalescing) BEFORE the fold: higher-order functions run
    interpreted, so the fold is CPU-bound and must be spread across
    all cores even when the source is a single small file (measured
    7x at sf0.1, where the one-file parquet otherwise pins the whole
    fold to one task). At 100 TB the scan parallelism makes this
    shuffle redundant-but-harmless relative to the fold cost.

    ``shingles``: optional pre-computed (id, sh) frame (the
    `word_shingles` arrays, ideally checkpointed). The shingle fold
    is the most expensive interpreted expression in the dedup family
    and callers that also verify candidates exactly need the SAME
    arrays again — passing them here instead of re-deriving from
    text removes a full duplicate fold pass (r13, guide §1.2: don't
    compute things twice). Must contain columns `id` and `sh` built
    with the same `shingle_k`; signatures are identical either way.
    """
    if shingles is not None:
        sh = shingles.select("id", "sh")
    else:
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        sh = df.repartition(n_part, F.col(id_col)).select(
            F.col(id_col).alias("id"),
            word_shingles(text_col, shingle_k).alias("sh"),
        )
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    sig = F.aggregate(
        "sh",
        F.array_repeat(F.lit(2147483647), num_hashes),
        lambda acc, s: F.zip_with(acc, seeds, lambda a, i: F.least(a, F.hash(s, i))),
    )
    return sh.select("id", sig.alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with estimated Jaccard.

    bands×rows = num_hashes; a pair collides if any band signature
    matches (P ≈ 1-(1-j^r)^b). Candidates come only from shared
    buckets — the self-join is on (band, band_hash), never all-pairs.
    Estimated similarity = fraction of equal signature components.

    ``max_bucket_size`` is the LSH skew cap for mega-duplicate-cluster
    corpora: a bucket of size s contributes s(s-1)/2 join pairs, so one
    pathological cluster (boilerplate pages, templated spam) can
    dominate the whole job quadratically. Capping drops buckets larger
    than the limit before the self-join (they are low-information bands;
    members of a real cluster still pair through its other, smaller
    buckets or are better handled as one `canonical_doc_per_cluster`
    group). OFF by default because it changes the candidate set — the
    oracled `dedup_minhash_lsh` entry runs uncapped (see
    docs/SCALING.md round-6 review)."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    # Materialization: downstream projections reference `sig` dozens
    # of times (16 band hashes + the posexplode Generate + the pair
    # estimate); without a hard barrier Catalyst inlines a copy of
    # the whole signature fold at every reference, and ColumnPruning
    # pushes the fold past a repartition Exchange so even that soft
    # barrier leaks under the Generate (see ngram_jaccard_pairs).
    # localCheckpoint truncates the lineage for real; a .persist()
    # would pay ~6s of columnar-cache codegen instead.
    sig = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_k, shingles=shingles
    ).localCheckpoint(eager=True)
    # Band bucket ids as one compact expression: hash the signature
    # slice per band (posexplode supplies the band index). Buckets
    # carry only (id, band, bh) — the 64-component signature itself is
    # joined back just for the surviving candidate pairs, not dragged
    # through the 16x exploded bucket table.
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.hash(F.slice("sig", bi * F.lit(rows) + 1, rows)),
    )
    buckets = sig.select(
        "id", F.posexplode(band_hashes).alias("band", "bh")
    )
    if max_bucket_size is not None:
        # window count per (band, bh), drop oversized buckets wholesale;
        # one extra hash shuffle on the same key the join needs anyway
        w = Window.partitionBy("band", "bh")
        buckets = (
            buckets.withColumn("_sz", F.count(F.lit(1)).over(w))
            .filter(F.col("_sz") <= max_bucket_size)
            .drop("_sz")
        )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sig_a = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = F.round(
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes)),
        4,
    )
    return (
        cand.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist a corpus's MinHash dedup index for INCREMENTAL
    near-dedup: `{path}/sig` holds (id, sig) and `{path}/bands` the
    exploded LSH band buckets (id, band, bh). A tiny `{path}/meta`
    table pins (num_hashes, bands, shingle_k) so a probe with
    mismatched parameters fails loudly instead of silently comparing
    incompatible band hashes.

    This is the 100 TB dedup lifecycle: history is fingerprinted
    ONCE; each arriving batch probes + appends (`dedup_against_index`)
    without ever rescanning or re-hashing old documents."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    spark = df.sparkSession
    if mode == "append":
        # validate BEFORE any write: appending rows of a DIFFERENT
        # geometry would silently mix incomparable band hashes, and a
        # late failure would leave the index partially appended
        try:
            meta = spark.read.parquet(f"{path}/meta").first()
        except AnalysisException:  # no meta yet: first write
            meta = None
        if meta is not None and (
            meta["num_hashes"],
            meta["bands"],
            meta["shingle_k"],
        ) != (num_hashes, bands, shingle_k):
            raise ValueError(
                f"index at {path} has geometry (num_hashes={meta['num_hashes']}, "
                f"bands={meta['bands']}, shingle_k={meta['shingle_k']}); "
                f"append requested ({num_hashes}, {bands}, {shingle_k})"
            )
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k).localCheckpoint(
        eager=True
    )
    sig.write.mode(mode).parquet(f"{path}/sig")
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.hash(F.slice("sig", bi * F.lit(rows) + 1, rows)),
    )
    sig.select("id", F.posexplode(band_hashes).alias("band", "bh")).write.mode(
        mode
    ).parquet(f"{path}/bands")
    spark.createDataFrame(
        [(num_hashes, bands, shingle_k)], "num_hashes int, bands int, shingle_k int"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    update_index: bool = False,
) -> DataFrame:
    """Drop every new-batch document that is a near-dup (estimated
    MinHash similarity >= threshold) of ANY document already in the
    `write_minhash_index` corpus at `path`; return the survivors.

    Plan — the incremental-dedup shape that scales to a 100 TB
    history: the new batch (≪ corpus by assumption) is fingerprinted
    and its band buckets BROADCAST against one scan of the persisted
    band table, so the corpus is never shuffled and never re-hashed;
    the surviving candidate pairs (tiny) are then broadcast against
    one scan of the signature table for the estimated-similarity
    verify. Total cost per batch: O(batch) compute + 2 index scans,
    zero corpus shuffles. With `update_index=True` the survivors'
    sig/band rows are appended (after an eager materialization, so
    the append never races the reads it depends on), keeping the
    index current for the next batch.

    Intra-batch duplicates are out of scope by design — run
    `near_dedup` on the batch first; this operator only answers
    "is it new relative to the corpus". Single-writer contract, like
    `upsert_by_key`."""
    meta = spark.read.parquet(f"{path}/meta").first()
    num_hashes, bands, shingle_k = meta["num_hashes"], meta["bands"], meta["shingle_k"]
    rows = num_hashes // bands

    nsig = minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=True)
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda bi: F.hash(F.slice("sig", bi * F.lit(rows) + 1, rows)),
    )
    nbuckets = nsig.select(
        F.col("id").alias("new_id"), F.posexplode(band_hashes).alias("band", "bh")
    )
    idx_bands = spark.read.parquet(f"{path}/bands")
    hits = (
        idx_bands.join(F.broadcast(nbuckets), ["band", "bh"])
        .select("new_id", F.col("id").alias("old_id"))
        .dropDuplicates(["new_id", "old_id"])
    )
    idx_sig = spark.read.parquet(f"{path}/sig")
    cand = idx_sig.withColumnRenamed("id", "old_id").withColumnRenamed(
        "sig", "sig_old"
    ).join(F.broadcast(hits), "old_id")
    cand = cand.join(
        F.broadcast(nsig.select(F.col("id").alias("new_id"), F.col("sig").alias("sig_new"))),
        "new_id",
    )
    est = (
        F.aggregate(
            F.zip_with("sig_new", "sig_old", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        / F.lit(float(num_hashes))
    )
    dup_ids = (
        cand.filter(est >= threshold).select("new_id").distinct().localCheckpoint(eager=True)
    )
    survivors = new_docs.join(
        F.broadcast(dup_ids), new_docs[id_col] == dup_ids["new_id"], "left_anti"
    )
    if update_index:
        keep_sig = nsig.join(
            F.broadcast(dup_ids), nsig["id"] == dup_ids["new_id"], "left_anti"
        ).localCheckpoint(eager=True)
        keep_sig.write.mode("append").parquet(f"{path}/sig")
        keep_sig.select("id", F.posexplode(band_hashes).alias("band", "bh")).write.mode(
            "append"
        ).parquet(f"{path}/bands")
    return survivors


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 48
) -> DataFrame:
    """SimHash fingerprint (default 48 bits → fits a signed long
    safely). Frequency-weighted: each token occurrence votes ±1 per
    bit of its murmur3 hash; fingerprint bit = sign of the vote sum.

    Computed as one nested higher-order fold per row (hash once per
    token, vote into a `bits`-wide accumulator, then pack the sign
    bits) — compact codegen; input repartitioned first so the
    interpreted fold parallelizes even off a one-file source (see
    minhash_signatures note)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    hashed = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        F.transform(tokens(text_col), lambda t: F.hash(t).cast("long")).alias("hs"),
    )
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    votes = F.aggregate(
        "hs",
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    fp = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return hashed.select("id", fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Pigeonhole banding: split the fingerprint into `chunks` chunks —
    any pair within distance < chunks must share one exact chunk, so
    candidates come from equi-joins on (chunk_id, chunk_value), then
    verify with bit_count(xor)."""
    # localCheckpoint = real materialization barrier (see minhash note)
    fp = simhash_fingerprints(df, id_col, text_col, bits).localCheckpoint(eager=True)
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(ci).alias("ci"),
                F.shiftright(F.col("simhash"), ci * chunk_bits)
                .bitwiseAND(F.lit(mask))
                .alias("cv"),
            )
            for ci in range(chunks)
        ]
    )
    buckets = fp.select("id", "simhash", F.explode(chunk_arr).alias("c")).select(
        "id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs by cosine ≥ threshold.

    With `bucket_col`, candidate pairs are restricted to the same
    bucket (a coarse quantization — at scale use an ANN/IVF
    assignment as the bucket). Dot/norm are JVM higher-order
    functions over the array column — no UDF, no collect."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm.alias("nrm"),
        *( [F.col(bucket_col).alias("bk")] if bucket_col else [F.lit(0).alias("bk")] ),
    )
    a = base.alias("a")
    b = base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def verify_pairs_exact(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (id_a, id_b).

    The LSH stages are recall-oriented; this join computes the true
    shingle-set Jaccard for just the candidates — O(candidates), not
    O(n²) — and filters to ``threshold``. The canonical
    candidate→verify shape for production dedup.

    The shingle fold is localCheckpointed: both join sides (a and b)
    reference it, and without a hard barrier each side re-derives the
    interpreted fold (see ngram_jaccard_pairs).

    ``shingles``: optional pre-computed-and-materialized (id, sh)
    frame; a caller whose candidate stage already shingled the corpus
    (minhash over the same k, a PPJoin prefix pass) passes it here so
    the most expensive interpreted expression in the family runs ONCE
    per pipeline, not once per stage (r13, guide §1.2)."""
    if shingles is not None:
        sh = shingles.select("id", "sh")
    else:
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        sh = (
            df.repartition(n_part, F.col(id_col))
            .select(
                F.col(id_col).alias("id"), word_shingles(text_col, k).alias("sh")
            )
            .localCheckpoint(eager=True)
        )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.withColumn(
            "jaccard", F.round(inter / F.greatest(union, F.lit(1)).cast("double"), 4)
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def resolve_components(pairs: DataFrame, rounds: int = 3) -> DataFrame:
    """Cluster representatives from near-dup pairs by bounded min-label
    propagation: every node starts at min(self, neighbors) and each
    round takes the min over its neighbors' current labels. The label
    travels one hop per round, so after R rounds every node within
    graph distance R of its component's minimum carries that minimum —
    `rounds=3` covers the chain depths seen at dedup thresholds ≥0.8,
    where clusters are near-cliques, while keeping the cost at a fixed
    R-1 joins over the (small) pair graph, not an unbounded loop.

    Returns (id, rep) for every id that appears in ≥1 pair; rep == id
    for each cluster's keeper. Scale: the pair graph is orders of
    magnitude smaller than the corpus (only near-dups appear), so the
    per-round shuffle is tiny relative to the candidate generation
    that produced `pairs`."""
    # localCheckpoint: the label lineage references `edges` once per
    # round; without a hard barrier each reference re-derives the full
    # candidate-generation plan that produced `pairs` (measured ~4x
    # blowup at 3 rounds), and a repartition Exchange only dedupes
    # when every consuming branch prunes to identical columns
    # (ReuseExchange keys on the exact subplan).
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    labels = edges.groupBy("src").agg(
        F.least(F.first("src"), F.min("dst")).alias("rep")
    )
    for _ in range(max(0, rounds - 1)):
        nbr = (
            edges.join(
                labels.select(F.col("src").alias("dst"), F.col("rep").alias("dst_rep")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_rep").alias("nbr_rep"))
        )
        labels = labels.join(nbr, "src", "left").select(
            "src", F.least("rep", F.coalesce("nbr_rep", F.col("rep"))).alias("rep")
        )
    return labels.select(F.col("src").alias("id"), "rep")


def resolve_components_converged(pairs: DataFrame, max_rounds: int = 20) -> DataFrame:
    """`resolve_components` iterated to FIXPOINT: rounds continue until
    no label changes (checked with a cheap count action per round), so
    arbitrarily deep chains merge — the guarantee the fixed-rounds
    variant trades away. Each round label lineage is truncated with
    `localCheckpoint` (eager): without it the iterated join plan grows
    exponentially and Catalyst re-derives every prior round per
    reference. Label propagation halves the distance to each
    component's minimum per round in the worst path graph, so rounds ≈
    O(diameter); near-dup graphs at production thresholds are
    near-cliques with diameter ≤ 3-4. The per-round cost is one join +
    one agg over the edge list (orders of magnitude smaller than the
    corpus), plus the count."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.groupBy("src")
        .agg(F.least(F.first("src"), F.min("dst")).alias("rep"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nbr = (
            edges.join(
                labels.select(F.col("src").alias("dst"), F.col("rep").alias("dst_rep")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_rep").alias("nbr_rep"))
        )
        new_labels = labels.join(nbr, "src", "left").select(
            "src", F.least("rep", F.coalesce("nbr_rep", F.col("rep"))).alias("rep")
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "src")
            .filter(F.col("n.rep") != F.col("o.rep"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("src").alias("id"), "rep")


def dedup_from_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    rounds: int = 3,
    converged: bool = False,
) -> DataFrame:
    """Drop every non-representative member of the pair-graph clusters
    (rep resolved by `resolve_components`, or iterated to fixpoint
    with `converged=True`); keep all untouched rows."""
    labels = (
        resolve_components_converged(pairs)
        if converged
        else resolve_components(pairs, rounds)
    )
    dupes = labels.filter(F.col("rep") != F.col("id")).select(
        F.col("id").alias("_dup_id")
    )
    return df.join(dupes, df[id_col] == dupes["_dup_id"], "left_anti")


def near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    rounds: int = 3,
    converged: bool = False,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash+LSH candidates →
    exact-Jaccard verify → drop non-representatives, with cluster
    membership resolved by bounded min-label propagation
    (`resolve_components`) so chained clusters (A~B~C where A≁C)
    still merge to one keeper.
    Returns the deduplicated DataFrame (all original columns)."""
    cand = minhash_lsh_pairs(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_k=shingle_k, threshold=max(0.0, threshold - 0.2),
    )
    verified = verify_pairs_exact(cand, df, id_col, text_col, shingle_k, threshold)
    return dedup_from_pairs(df, verified, id_col, rounds, converged=converged)


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str = "doc_id",
    bench_id: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_containment: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination detection: (corpus doc, benchmark doc)
    pairs whose shingle CONTAINMENT |C∩B| / |B| ≥ threshold — the
    asymmetric cousin of Jaccard used for eval-set decontamination
    (a training doc that embeds a whole benchmark item is flagged
    even when the doc is 100x longer than the item).

    Plan shape mirrors `ngram_jaccard_pairs` but the join is
    corpus-postings ⋈ benchmark-postings (not a self-join): cost is
    O(Σ_shingle df_corpus · df_bench), and the benchmark side is
    tiny by definition, so the inverted-index join stays narrow even
    when the corpus is 100 TB. Benchmark postings are broadcast when
    the benchmark fits (eval suites: thousands of items, not
    billions) — zero shuffle on the corpus side beyond the fold
    barrier."""
    n_part = int(corpus.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # localCheckpoint, not a repartition barrier: the explode would
    # otherwise re-derive the interpreted fold (see ngram_jaccard_pairs)
    c_sh = (
        corpus.repartition(n_part, F.col(corpus_id))
        .select(F.col(corpus_id).alias("cid"), word_shingles(text_col, k).alias("sh"))
        .localCheckpoint(eager=True)
    )
    b_sh = benchmark.select(
        F.col(bench_id).alias("bid"), word_shingles(text_col, k).alias("sh")
    )
    c_post = c_sh.select("cid", F.explode("sh").alias("shingle"))
    b_post = b_sh.select("bid", F.explode("sh").alias("shingle"))
    b_sizes = b_sh.select("bid", F.size("sh").alias("n_b"))
    inter = (
        c_post.join(F.broadcast(b_post), "shingle")
        .groupBy("cid", "bid")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(F.broadcast(b_sizes), "bid")
        .withColumn(
            "containment",
            F.round(F.col("n_common") / F.greatest("n_b", F.lit(1)).cast("double"), 4),
        )
        .filter(F.col("containment") >= min_containment)
        .select(
            F.col("cid").alias(corpus_id + "_corpus"),
            F.col("bid").alias(bench_id + "_bench"),
            "n_common",
            "containment",
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    corpus_id: str = "doc_id",
    bench_id: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_containment: float = 0.5,
) -> DataFrame:
    """Drop every corpus doc flagged by `contamination_pairs` — the
    anti-join form a training pipeline actually runs before export."""
    flagged = contamination_pairs(
        corpus, benchmark, corpus_id, bench_id, text_col, k, min_containment
    ).select(F.col(corpus_id + "_corpus").alias("_contam_id")).distinct()
    return corpus.join(
        flagged, corpus[corpus_id] == flagged["_contam_id"], "left_anti"
    )


def embedding_cosine_pairs_pandas(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Gram-matrix variant of `embedding_cosine_pairs`: one
    Arrow-batched `applyInPandas` per bucket computes all within-
    bucket cosines as a single numpy matmul.

    This is the documented "Pandas UDF where built-ins genuinely
    lose" case: the HOF form evaluates an interpreted lambda per
    (pair, component); the BLAS matmul does the same arithmetic at
    memory bandwidth. Same outputs (verified in tests) — choose by
    bucket size: matmul needs the bucket's vectors in one worker's
    memory (fine for IVF-sized cells; not for a degenerate giant
    bucket)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        sims = (mat @ mat.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        # enforce id_a < id_b regardless of row order in the batch
        a, b = ids[iu], ids[ju]
        swap = a > b
        a[swap], b[swap] = b[swap].copy(), a[swap].copy()
        cos = np.round(sims[iu, ju], 4)
        keep = cos >= threshold
        return pd.DataFrame({"id_a": a[keep], "id_b": b[keep], "cosine": cos[keep]})

    out_schema = "id_a LONG, id_b LONG, cosine DOUBLE"
    return df.groupBy(bucket_col).applyInPandas(per_bucket, out_schema)


def doc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """Consecutive non-overlapping `chunk_words`-word chunks per
    document: (id_col, chunk_idx, chunk_text, _ck) where `_ck` is
    md5(chunk_text) — downstream shuffles key on the 128-bit hash,
    not the 10-word payload.

    r13 shape (guide §2.4 — remove shuffles outright): chunks are
    consecutive SLICES of the per-doc token array, so they are built
    in ONE narrow projection — `transform(sequence, i ->
    array_join(slice(toks, i·cw+1, cw)))` + posexplode — with zero
    exchanges. The previous form exploded every word and rebuilt
    chunks through a (doc, chunk_idx) collect_list aggregate: it
    shuffled every word string (O(total tokens) payload bytes) and
    paid an ObjectHashAggregate plus the r12 lambda-isolation
    exchange, all to recompose rows the slice already had. Output
    rows identical (verified exceptAll-empty both ways at sf1); the
    leading id-keyed repartition only spreads the CPU-bound fold
    across cores when the source is a handful of files (the
    minhash_signatures lesson)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = (
        df.repartition(n_part, F.col(id_col))
        .select(id_col, tokens(text_col).alias("_toks"))
        .where(F.size("_toks") > 0)
    )
    n_chunks = F.ceil(F.size("_toks") / F.lit(chunk_words)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(F.col("_toks"), i * chunk_words + 1, chunk_words), " "
        ),
    )
    return (
        toks.select(
            id_col, F.posexplode(chunks).alias("_ci", "chunk_text")
        )
        .select(
            id_col,
            F.col("_ci").cast("long").alias("chunk_idx"),
            "chunk_text",
        )
        .withColumn("_ck", F.md5("chunk_text"))
    )


def chunk_dup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """Span-level exact dedup statistics (C4 lineage — Raffel et al.
    2020 §2.2 removes repeated three-sentence spans; public paper):
    split each document into consecutive non-overlapping
    `chunk_words`-word chunks and count, per document, how many of
    its chunks also occur anywhere else in the corpus. The dup_frac
    column is the usual pre-training triage signal for boilerplate
    (headers, navbars, license blocks) that exact whole-doc dedup
    misses.

    Shape: posexplode → one (doc, chunk_idx) aggregate rebuilding the
    chunk text in token order (`array_sort` on (pos, word) structs —
    collect_list alone is shuffle-order-dependent), then a frequency
    aggregate and a join keyed on md5(chunk) — 128 bits, not the
    chunk string, so the frequency shuffle moves hashes instead of
    10-word payloads. Map-side partial aggregation collapses hot
    chunks per task; no self-join, no O(n²) term anywhere. At 100 TB
    this is the same inverted-index discipline as the other dedup
    ops: shuffle volume is O(total chunks)."""
    chunks = doc_chunks(df, text_col, id_col, chunk_words)
    freq = chunks.groupBy("_ck").agg(F.count(F.lit(1)).alias("n_occ"))
    return (
        chunks.join(freq, "_ck")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("n_occ") > 1, F.lit(1))).alias("n_dup_chunks"),
            F.round(
                F.count(F.when(F.col("n_occ") > 1, F.lit(1)))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("dup_frac"),
        )
    )


def repeated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Maximal repeated-span detection over SLIDING k-token windows
    (ExactSubstr lineage — Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", public paper, removes any
    substring of >= 50 tokens that appears more than once in the
    corpus). `chunk_dup_stats` uses C4-style non-overlapping chunks
    and misses repeats that straddle a chunk boundary; this operator
    slides a window one token at a time, flags every window whose
    exact text occurs more than once corpus-wide (cross-doc OR twice
    in the same doc), and merges runs of adjacent flagged positions
    into maximal spans — per doc: span count, tokens covered by a
    repeated span, and the covered fraction.

    Shape (the distributed adaptation of the paper's single-machine
    suffix array): window materialization is array-native
    (`transform(sequence(...), i -> md5(slice(toks, i+1, k)))`) so
    only 128-bit hashes leave the scan — shuffle volume is O(total
    tokens) x 32 B, never the window strings. Duplicate flagging is a
    count() over a hash-partitioned window rather than a
    groupBy+self-join, so the expensive fold+Generate subtree is
    scanned ONCE and the plan has exactly two exchanges (by window
    hash, then by doc) instead of three plus a recomputed branch —
    the fold-materialization discipline from docs/SCALE.md without
    needing a checkpoint pin. Span merging is the classic
    gaps-and-islands window (pos - row_number) partitioned per doc,
    so state is bounded by document length. No self-join, no O(n^2)
    term; at 100 TB this scales exactly like the other
    inverted-index dedup ops. Grouping on md5 rather than the window
    text is collision-safe in the same 128-bit sense as
    `chunk_dup_stats`."""
    wins = _window_hashes(df, text_col, id_col, k)
    wc = Window.partitionBy("_wk")
    flagged = wins.withColumn("_n_occ", F.count(F.lit(1)).over(wc)).where(
        F.col("_n_occ") > 1
    )
    return _merge_spans(flagged, id_col, k)


def _window_hashes(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id, doc token count, window start pos, md5 of the k-token
    window) for every sliding window. Tokenization stays a Catalyst
    expression (`tokens`; Java regex/lowercase semantics untouched);
    windows are joined and hashed in one mapInArrow kernel whose
    per-window work is one `' '.join` + `hashlib.md5` over the token
    strings (the Catalyst form evaluates an interpreted lambda per
    window — O(n·k) copies per doc, 4.5 s of the 7.1 s sf1 entry). It
    is byte-identical to
    `md5(array_join(slice(tokens, i+1, k), ' '))`: ' '.join equals
    array_join(…, ' ') on non-null tokens (tokens() filters empties),
    UTF-8 encoding matches UTF8String bytes, and hexdigest matches
    F.md5's lowercase hex — so the persisted span-index format
    (`write_span_index`) and every flag comparison are unchanged.
    Window text never leaves the scan: only (id, n, pos, 32-char
    hash) rows cross. The id column passes through the kernel as its
    own Arrow array (`take` by source row), so it keeps its Spark type
    whatever that is. Docs with a NULL text or fewer than k tokens
    yield no windows.

    The input is repartitioned before the window fold (same lesson
    as `minhash_signatures`): the per-window work is CPU-bound and a
    single small parquet file otherwise pins the whole fold to one
    or two scan tasks — measured 4.4 s -> ~0.6 s at sf1 for the
    identical 2.3M-row output. At 100 TB scan parallelism makes the
    exchange redundant-but-harmless relative to the fold."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    toks = df.repartition(n_part, F.col(id_col)).select(
        id_col, tokens(text_col).alias("_toks")
    )

    def gen(batches):
        import hashlib  # noqa: PLC0415

        import pyarrow as pa  # noqa: PLC0415

        md5 = hashlib.md5
        for batch in batches:
            o_row, o_n, o_pos, o_wk = [], [], [], []
            for row, tks in enumerate(batch.column(1).to_pylist()):
                n = len(tks) if tks is not None else 0
                for p in range(n - k + 1):
                    o_row.append(row)
                    o_n.append(n)
                    o_pos.append(p)
                    o_wk.append(
                        md5(" ".join(tks[p : p + k]).encode("utf-8")).hexdigest()
                    )
            if o_row:
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(0).take(pa.array(o_row, type=pa.int32())),
                        pa.array(o_n, type=pa.int32()),
                        pa.array(o_pos, type=pa.int32()),
                        pa.array(o_wk, type=pa.string()),
                    ],
                    names=[id_col, "_n_tokens", "pos", "_wk"],
                )

    return toks.mapInArrow(
        gen,
        StructType(
            [
                toks.schema[id_col],
                StructField("_n_tokens", IntegerType()),
                StructField("pos", IntegerType()),
                StructField("_wk", StringType()),
            ]
        ),
    )


def _merge_spans(flagged: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of flagged window positions into maximal
    spans, then the per-doc summary (n_spans, repeated_tokens,
    repeated_frac). Window state is bounded by document length."""
    w = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        flagged.withColumn("_grp", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "_grp")
        .agg(
            (F.max("pos") - F.min("pos") + F.lit(k)).cast("long").alias("span_tokens"),
            F.first("_n_tokens").alias("_n_tokens"),
        )
    )
    return spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("repeated_tokens"),
        F.round(
            F.sum("span_tokens") / F.first("_n_tokens").cast("double"), 4
        ).alias("repeated_frac"),
    )


def write_span_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> None:
    """Persist the corpus side of incremental repeated-span detection:
    one (window md5 -> occurrence count) table. 32 B + a long per
    DISTINCT window — boilerplate-heavy corpora compress hard here
    because the hot windows collapse to single rows. The window
    geometry (k) is stamped on every row so a probe with mismatched
    tokenization geometry fails loudly instead of silently missing
    spans (same discipline as the MinHash index append guard)."""
    wins = _window_hashes(df, text_col, id_col, k)
    (
        wins.groupBy("_wk")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .withColumn("_k", F.lit(k))
        .write.mode("overwrite")
        .parquet(path)
    )


def repeated_spans_against_index(
    batch: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Incremental form of `repeated_span_stats`: flag every batch
    window that occurs in the PERSISTED corpus index (any count) or
    more than once within the batch itself, then merge into maximal
    spans — without rescanning or re-hashing the corpus.

    Shape (the O(batch) discipline shared by `dedup_against_index`
    and `semantic_dedup_against_index`): the batch's distinct window
    keys broadcast onto ONE scan of the index — the corpus-sized side
    is never shuffled — and the matched-key set (bounded by batch
    keys) broadcasts back onto the batch. The only exchanges are
    batch-sized: one by window hash for within-batch counting, one by
    doc for the islands merge. At 100 TB of indexed corpus a daily
    batch probe costs one index scan + O(batch tokens) shuffle."""
    spark = batch.sparkSession
    idx = spark.read.parquet(index_path)
    stored = idx.select("_k").first()
    if stored is not None and stored["_k"] != k:
        raise ValueError(
            f"span index at {index_path} was built with k={stored['_k']}, "
            f"probe requested k={k}"
        )
    wins = _window_hashes(batch, text_col, id_col, k)
    wc = Window.partitionBy("_wk")
    counted = wins.withColumn("_n_batch_occ", F.count(F.lit(1)).over(wc))
    batch_keys = wins.select("_wk").distinct()
    matched = (
        idx.join(F.broadcast(batch_keys), "_wk")
        .select("_wk")
        .withColumn("_in_corpus", F.lit(True))
    )
    flagged = counted.join(F.broadcast(matched), "_wk", "left").where(
        (F.col("_n_batch_occ") > 1) | F.col("_in_corpus").isNotNull()
    )
    return _merge_spans(flagged, id_col, k)


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Sparse all-pairs TF-IDF cosine similarity via inverted index
    (the classic all-pairs-similarity-search shape — Bayardo et al.
    2007, WWW; public paper). Emits (id_a, id_b, cosine) for every
    pair whose cosine over L2-normalized smooth-idf weights
    (tf · (ln((N+1)/(df+1)) + 1)) reaches `threshold`.

    Plan: (doc, term, tf) postings → term document frequencies (one
    aggregate that serves BOTH the idf and the `max_df` prune) → L2
    norms per doc → unit weights → self-join on term → one
    sum-of-products aggregate per candidate pair. A pair is produced
    only if it shares a term, so disjoint docs cost nothing; shuffle
    volume is postings + candidate pairs, never O(n²).

    `max_df` is the same scale guard as `ngram_jaccard_pairs`: join
    cost is O(Σ df²) over term document frequencies and stop-word
    terms dominate it while contributing ~nothing to discrimination
    (their idf is ~0 anyway, so dropping them barely moves the
    cosine). The prune is a filter on the already-computed dfreq
    aggregate — zero extra shuffle; the postings drop out in the
    inner idf join. N is a 1-row aggregate broadcast-cross-joined
    (no separate .count() action, no collect)."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    posts = (
        df.repartition(n_part, F.col(id_col))
        .select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = posts.groupBy("term").agg(F.count(F.lit(1)).alias("dfr"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("dfr") <= max_df)
    idf = dfreq.crossJoin(F.broadcast(ndocs)).select(
        "term",
        (F.log((F.col("n_docs") + 1.0) / (F.col("dfr") + 1.0)) + 1.0).alias("idf"),
    )
    w = posts.join(idf, "term").withColumn("wt", F.col("tf") * F.col("idf"))
    norms = w.groupBy("id").agg(F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm"))
    u = w.join(norms, "id").select(
        "id", "term", (F.col("wt") / F.col("nrm")).alias("uw")
    )
    a, b = u.alias("a"), u.alias("b")
    return (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.uw") * F.col("b.uw")).alias("_cos"))
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round("_cos", 4).alias("cosine"))
    )


def cross_source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
) -> DataFrame:
    """Dataset-level contamination matrix: for every pair of sources
    (a < b), how many DISTINCT `chunk_words`-word chunks appear in
    both — the train/eval-leakage and mirror-site diagnostic run
    before mixing corpora. Also reports each side's distinct chunk
    count and the overlap coefficient
    |A∩B| / min(|A|, |B|) (containment-style, so a small source
    fully swallowed by a big one scores 1.0, which Jaccard hides).

    Shape: chunks → distinct (chunk, source) pairs — the per-chunk
    aggregate collapses a chunk repeated millions of times WITHIN a
    source to one row BEFORE any pairing, so boilerplate can't blow
    up the self-join. The join fan-out per chunk is C(#sources, 2),
    bounded by the (small) source count, never by df. Output is
    #source-pairs rows."""
    chunks = doc_chunks(df, text_col, id_col, chunk_words).join(
        df.select(id_col, source_col), id_col
    )
    cs = chunks.select("_ck", F.col(source_col).alias("src")).distinct()
    per_src = cs.groupBy("src").agg(F.count(F.lit(1)).alias("n_chunks"))
    a, b = cs.alias("a"), cs.alias("b")
    inter = (
        a.join(b, (F.col("a._ck") == F.col("b._ck")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
    )
    na = per_src.select(F.col("src").alias("source_a"), F.col("n_chunks").alias("n_a"))
    nb = per_src.select(F.col("src").alias("source_b"), F.col("n_chunks").alias("n_b"))
    return (
        inter.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_shared_chunks",
            F.round(
                F.col("n_shared_chunks") / F.least("n_a", "n_b").cast("double"), 4
            ).alias("overlap_coef"),
        )
    )


def semdedup_prune(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public paper): cluster embeddings with k-means,
    then within each cluster prune every vector that has a
    smaller-id neighbor with cosine >= `threshold`. One survivor per
    semantic neighborhood, chosen deterministically (min id), exactly
    the paper's keep-one-per-duplicate-set policy with the random
    choice replaced by an engine-portable one.

    Output: (id_col, sem_cluster, pruned) for every input row.

    Scale shape: EXACT duplicates collapse first — one representative
    (min id) per distinct vector, grouped on the vector value itself
    (no hash-collision risk). This is semantics-preserving at any
    threshold < 1: identical vectors have identical similarities to
    everything, so every non-min id of an identical group is pruned
    (its min-id twin is a >= threshold neighbor), and a vector has a
    smaller-id neighbor in some group iff it has one at that group's
    min id. The r11 decade gate motivated this: a duplicate-heavy
    corpus concentrates its copies into ONE k-means cell no matter
    how k scales (that co-clustering is exactly the property the
    oracle relies on), so the per-cell gram matrix grew quadratically
    with input — sf10 measured b=+1.66 / 709 s / ~5 GB matmuls;
    after the collapse the cell holds one row per DISTINCT vector and
    sf10 runs in seconds. After collapsing, the only exchanges are
    the groupBy on the vector (linear), the per-cell groupBy feeding
    one Arrow-batched gram-matrix kernel per cluster — pair space
    sum_c(n_c^2) over distinct vectors, never n^2 — and the fan-out
    join back to members. At 100 TB pick k ~ distinct-corpus/5e4 so
    cells stay bounded (the paper uses 50k clusters for LAION-440M).
    The matmul is the repo's documented "Pandas where built-ins lose"
    case (see embedding_cosine_pairs_pandas): the HOF self-join form
    measured 19s at sf0.1 vs sub-second for BLAS on identical
    outputs."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    members = df.select(id_col, vec_col)
    # materialized once (r12): reps feed BOTH the centroid assignment
    # and the member fan-out join; without the checkpoint the distinct
    # aggregate re-executes for each consumer AND the assignment's
    # lambda cosine folds into the aggregate's result expressions,
    # where it runs interpreted (guide §1.2 — see
    # ngram_jaccard_prefix_filtered for the measured 8x)
    reps = (
        members.groupBy(vec_col)
        .agg(F.min(id_col).alias(id_col))
        .localCheckpoint(eager=True)
    )
    # Zero-vector edge (r11 ADVICE): the member-level kernel maps
    # zero norms to 1, so two identical ALL-ZERO vectors have cosine
    # 0 and are BOTH kept whenever threshold > 0 — the forced
    # non-representative prune below must therefore skip zero-norm
    # groups (their twins' similarity is 0, not 1). For nonzero
    # vectors cos(v, v) = 1 >= any threshold < 1, the documented
    # regime; a non-positive threshold prunes twins either way.
    nonzero = F.exists(vec_col, lambda x: x != 0.0) | F.lit(threshold <= 0)

    a = ivf_assign(reps, centroids, vec_col, out_col="sem_cluster")

    # Within-cluster pruning as one gram-matrix kernel per cluster —
    # the same "Pandas where built-ins lose" call as
    # embedding_cosine_pairs_pandas: the HOF self-join evaluates an
    # interpreted lambda per (pair, component) (measured 19s at
    # sf0.1); the BLAS matmul is memory-bandwidth (sub-second).
    def per_cluster(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)[order]
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0.0] = 1.0
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        # pruned[j] := any i<j (in id order) with cos >= threshold
        hit = sims >= threshold
        pruned = np.triu(hit, k=1).any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                "sem_cluster": key[0],
                "pruned": pruned,
            }
        )

    out_schema = f"{id_col} LONG, sem_cluster INT, pruned BOOLEAN"
    rep_res = a.groupBy("sem_cluster").applyInPandas(per_cluster, out_schema)
    # fan back out to every input row: a member inherits its
    # representative's cluster, and every non-representative is
    # pruned by definition (its identical min-id twin is a
    # >= threshold neighbor at any threshold < 1)
    return (
        members.join(reps.withColumnRenamed(id_col, "_rep_id"), vec_col)
        .join(rep_res.withColumnRenamed(id_col, "_rep_id"), "_rep_id")
        .select(
            id_col,
            "sem_cluster",
            (
                ((F.col(id_col) != F.col("_rep_id")) & nonzero)
                | F.col("pruned")
            ).alias("pruned"),
        )
    )


def doc_chunks_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
    stride: int = 5,
) -> DataFrame:
    """Sliding-window chunking with overlap — the RAG / context-window
    prep shape `doc_chunks` (non-overlapping) can't express. Chunk i
    covers tokens [i*stride, i*stride + chunk_words); starts are laid
    while i*stride < n_tokens, so tail chunks may run short, and an
    empty document still yields one empty chunk (stable row per doc).

    Unlike `doc_chunks`' posexplode→groupBy rebuild, this is pure
    array projection: transform(sequence(...)) + slice() builds every
    chunk inside one narrow stage — zero shuffle, zero Python; the
    only explode is the final fan-out to one row per chunk. At 100 TB
    chunking cost is scan-bound and embarrassingly parallel."""
    toks = df.select(id_col, tokens(text_col).alias("_toks"))
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.size("_toks") / F.lit(stride))
    ).cast("int")
    chunks = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.array_join(
                    F.slice("_toks", i * stride + 1, chunk_words), " "
                ),
            )
        ).alias("chunk_idx", "chunk_text"),
    )
    return chunks.withColumn("_ck", F.md5("chunk_text"))


def semantic_dedup_against_index(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup lifecycle — the embedding analog of
    `dedup_against_index`: dedupe an ARRIVING batch against a
    persisted IVF-partitioned corpus index (`write_ivf_index`)
    without rescanning or re-embedding history.

    Shape: the batch assigns to cells with the narrow zip_with
    quantizer; only the cells PRESENT in the batch are read from the
    index (partition-pruned at file-listing level — a bounded
    `isin` over at most k cells, fetched via one tiny distinct);
    then ONE cogrouped Arrow kernel per cell computes the
    batch x history cosine matrix as a BLAS matmul and flags batch
    rows with any history neighbor >= threshold. Per-batch cost is
    O(batch + touched cells), independent of corpus size — the same
    contract the minhash index path documents. Returns
    (id_col, sem_cluster, pruned) for every batch row.

    This is also the repo's pin of the `groupBy().cogroup()` API:
    two grouped frames, one Arrow kernel over the aligned groups, no
    join materialization of the (batch x history) pair space."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    assigned = ivf_assign(
        batch.select(id_col, vec_col), centroids, vec_col, out_col="ivf_cell"
    )
    cells = [
        r["ivf_cell"] for r in assigned.select("ivf_cell").distinct().collect()
    ]
    hist = (
        spark.read.parquet(index_path)
        .filter(F.col("ivf_cell").isin(cells))
        .select("ivf_cell", F.col(vec_col).alias("_hv"))
    )

    def per_cell(key: tuple, bpdf: pd.DataFrame, hpdf: pd.DataFrame) -> pd.DataFrame:
        if bpdf.empty:
            return pd.DataFrame(
                {id_col: [], "sem_cluster": [], "pruned": []}
            ).astype({id_col: "int64", "sem_cluster": "int32", "pruned": "bool"})
        ids = bpdf[id_col].to_numpy()
        bm = np.asarray(list(bpdf[vec_col]), dtype=np.float64)
        bn = np.linalg.norm(bm, axis=1)
        bn[bn == 0.0] = 1.0
        if hpdf.empty:
            pruned = np.zeros(len(ids), dtype=bool)
        else:
            hm = np.asarray(list(hpdf["_hv"]), dtype=np.float64)
            hn = np.linalg.norm(hm, axis=1)
            hn[hn == 0.0] = 1.0
            sims = (bm @ hm.T) / np.outer(bn, hn)
            pruned = (np.round(sims, 6) >= threshold).any(axis=1)
        return pd.DataFrame(
            {id_col: ids, "sem_cluster": key[0], "pruned": pruned}
        )

    out_schema = f"{id_col} LONG, sem_cluster INT, pruned BOOLEAN"
    return (
        assigned.groupBy("ivf_cell")
        .cogroup(hist.groupBy("ivf_cell"))
        .applyInPandas(per_cell, out_schema)
    )


def doc_chunks_cdc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hex_prefix: str = "0",
) -> DataFrame:
    """Content-defined chunking at token level (the rsync/FastCDC
    boundary idea — public technique): a chunk boundary falls AFTER
    every token whose md5 starts with `boundary_hex_prefix`
    (1 hex char → boundary probability 1/16 → ~16-token average
    chunks). Because boundaries depend on CONTENT, not position,
    inserting or deleting a token resynchronizes within one chunk —
    fixed/stride chunking shifts every subsequent chunk, so CDC is
    the chunk-level dedup that survives edits (tested:
    `test_cdc_chunks_survive_prefix_insertion`).

    Shape: posexplode → boundary flag → per-doc running-sum window
    (one exchange on the doc id, same discipline as sessionize) →
    per-(doc, chunk) rebuild in token order. Output
    (id_col, cid, chunk_text, n_tok, _ck=md5(chunk))."""
    toks = df.select(id_col, tokens(text_col).alias("_tk"))
    words = toks.select(id_col, F.posexplode("_tk").alias("pos", "w"))
    flagged = words.withColumn(
        "_brk",
        (F.substring(F.md5("w"), 1, len(boundary_hex_prefix))
         == boundary_hex_prefix).cast("int"),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cids = flagged.withColumn(
        "cid", F.coalesce(F.sum("_brk").over(w_run), F.lit(0))
    )
    # the chunk-text rebuild (sort + transform + join over the
    # collected parts) is isolated behind an exchange (r12, guide
    # §1.2): lambda expressions folded into the ObjectHashAggregate's
    # result expressions run interpreted, per array element, with no
    # subexpression elimination — see ngram_jaccard_prefix_filtered
    # for the measured 8x
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (
        cids.groupBy(id_col, "cid")
        .agg(
            F.collect_list(F.struct("pos", "w")).alias("_parts"),
            F.count(F.lit(1)).alias("n_tok"),
        )
        .repartition(n_part, F.col(id_col))
        .select(
            id_col,
            "cid",
            F.array_join(
                F.transform(F.array_sort("_parts"), lambda s: s["w"]), " "
            ).alias("chunk_text"),
            "n_tok",
        )
        .withColumn("_ck", F.md5("chunk_text"))
    )


def keep_canonical(
    df: DataFrame,
    cluster_col: str,
    quality_col: str,
    id_col: str,
) -> DataFrame:
    """Canonical-document selection: keep exactly ONE row per dup
    cluster — the highest-`quality_col` member, ties broken on the
    smallest `id_col`. This is the step after any dedup family
    (exact / canonical-fingerprint / near-dup components): instead of
    keeping an arbitrary survivor, keep the best one (longest text,
    highest quality score, most recent crawl).

    Scale shape: one hash exchange on the cluster key feeding a
    row_number window — the same shuffle the cluster assignment
    already needed, no extra pass over payloads. The (quality desc,
    id asc) order is total, so the kept set is deterministic under
    any partitioning."""
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        df.withColumn("_kc_rn", F.row_number().over(w))
        .filter(F.col("_kc_rn") == 1)
        .drop("_kc_rn")
    )


def _ppjoin_prefix(sh: DataFrame, t_eff: float) -> DataFrame:
    """Prefix postings for PPJoin over a (id, sh: array<string>)
    frame: canonical rarest-first shingle order, first
    ``n − ⌈t_eff·n⌉ + 1`` postings per document, with the rank and
    set size riding along for the positional/length filters. The
    SINGLE definition of the prefix shape shared by the operator
    (`ngram_jaccard_prefix_filtered`) and its measurement counter
    (`prefix_filter_candidate_count`) so the two can't drift apart
    again (r09 ADVICE; the counter had once kept a stale shape)."""
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    postings = sh.select("id", F.explode("sh").alias("shingle"))
    dfreq = postings.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ranked = postings.join(dfreq, "shingle").join(sizes, "id")
    w = Window.partitionBy("id").orderBy("_df", "shingle")
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(t_eff) * F.col("n_sh")) + 1
    ).cast("int")
    return (
        ranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= prefix_len)
        .select("id", "shingle", "_rn", "n_sh")
    )


def _ppjoin_candidates(pref: DataFrame, t_eff: float) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from the PPJoin prefix
    self-join: shingle equality + id ordering + the canonical LENGTH
    and POSITIONAL filters (see `ngram_jaccard_prefix_filtered` for
    the lossless-at-t_eff argument). Shared by the operator and the
    counter — one definition of the candidate join."""
    a = pref.alias("a")
    b = pref.alias("b")
    overlap_need = F.ceil(
        F.lit(t_eff / (1.0 + t_eff)) * (F.col("a.n_sh") + F.col("b.n_sh"))
    )
    overlap_ub = (
        F.least(
            F.col("a.n_sh") - F.col("a._rn"), F.col("b.n_sh") - F.col("b._rn")
        )
        + 1
    )
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.least("a.n_sh", "b.n_sh")
                >= F.lit(t_eff) * F.greatest("a.n_sh", "b.n_sh")
            )
            & (overlap_ub >= overlap_need),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_prefix_filtered(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    assume_distinct: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PPJoin-style PREFIX FILTERING —
    same output contract as `ngram_jaccard_pairs`, asymptotically
    smaller candidate space.

    The prefix-filter lemma: order every document's shingle set by one
    global canonical order (rarest-first: ascending document
    frequency, ties on the shingle string) and keep only the first
    ``p = n − ⌈t·n⌉ + 1`` shingles of each size-n set. Two sets with
    Jaccard ≥ t MUST share at least one prefix shingle — if all
    shared shingles sat past both prefixes, the maximum possible
    overlap would be below t's requirement. So indexing prefixes
    alone is LOSSLESS: candidates missed by the prefix index provably
    can't pass the threshold, and every candidate is then verified
    exactly (array_intersect on the full sets), making the emitted
    pair set identical to the full inverted index's.

    Scale shape vs the full index: postings volume drops by factor
    ≈ t (at t = 0.8, 5× fewer postings enter the self-join, and the
    O(Σ df²) candidate cost falls quadratically on hot shingles —
    rarest-first ordering systematically EXCLUDES boilerplate
    shingles from prefixes, which is exactly the population `max_df`
    prunes by fiat). The candidate JOIN additionally applies the two
    canonical PPJoin filters (Xiao et al., public algorithm), both
    evaluated on columns already riding the postings:

    - LENGTH filter: J(A,B) ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|) —
      a prefix collision between very different-size sets can never
      verify, so it never becomes a candidate;
    - POSITIONAL filter: at a collision on the shingle ranked i in
      A's canonical order and j in B's, the overlap can never exceed
      min(|A|−i, |B|−j) + 1, which must reach the t-equivalent
      intersection bound ⌈t/(1+t)·(|A|+|B|)⌉ — collisions deep in
      both prefixes are pruned even between same-size sets.

    Both bounds (and the prefix length itself) use t − 1e-4 so they
    stay LOSSLESS with respect to the rounded verify predicate
    (round(j,4) ≥ t admits j ≥ t − 5e-5, and double(0.8) sits a hair
    ABOVE the rational 4/5 — a raw-t ceil could prune an exactly-
    borderline pair). Measured at sf1: 11.1M → 1.27M candidates
    (8.8×) for the identical 248,962-pair output. Exchanges: one
    df-count aggregate + one join to attach df (both shingle-keyed,
    map-side-combined), a per-doc window (bounded by document
    length, never corpus), the prefix self-join, and the pair verify
    join. The verify joins shuffle only candidate ids, and full
    shingle arrays ride the (bounded) pair join once each.

    Reference anchor: SURVEY §2 north-star dedup family; same
    semantics as `ngram_jaccard_pairs` (distinct word k-shingles,
    `word_shingles`).

    Exact-duplicate texts are COLLAPSED before candidate generation
    (r11 decade gate: a 100x-replicated corpus made hot-shingle
    postings collide df² times and the sf10 probe died in the verify
    join): identical texts share every shingle relation, so the
    member pair set decomposes exactly into rep-level pairs fanned
    out over member lists plus within-group J=1 cliques
    (`expand_pairs_to_duplicates`). Candidate work is bounded by
    DISTINCT texts; the emitted volume — unavoidably quadratic in
    duplicate multiplicity, it IS the answer — is produced by a
    linear-in-output fan-out, the optimal shape.

    Duplicate-FREE inputs skip the collapse entirely (r11 verdict #1:
    the unconditional groupBy(text) + eager checkpoint + expand made
    already-unique corpora pay 2.6-4.2x for machinery whose every
    group is a singleton). A cheap probe — count vs
    count_distinct(xxhash64(text)), an 8-byte-per-row aggregate, no
    text shuffle — proves uniqueness: equal counts mean no two rows
    share a text (equal texts hash equal), and a hash collision can
    only send a unique corpus down the collapse path, never the
    reverse, so both branches stay exact and bit-identical. Callers
    that already hold one row per distinct text should call
    `ngram_jaccard_rep_pairs` directly and skip the probe too.

    ``assume_distinct`` makes the probe an OPT-OUT, not a tax (r12
    verdict #2: the probe is an eager action at CALL time — it
    re-executes df's full upstream lineage once before either branch
    runs it again, a full extra pass of the text column at scale, and
    on duplicate-bearing corpora it is pure added cost on top of the
    collapse it cannot skip). None (default) = probe as before;
    True = caller guarantees pairwise-distinct texts, go straight to
    the collapse-free core (a violated guarantee degrades candidate
    work toward the quadratic regime but output stays the exact
    member-level pair set — see `ngram_jaccard_rep_pairs`); False =
    caller knows duplicates exist (or wants the always-safe path),
    go straight to the collapse, skipping the probe scan.

    NOTE the probe (and nothing else here) runs a real Spark job
    during plan construction — pass an explicit ``assume_distinct``
    when building plans for inspection without triggering jobs."""
    if assume_distinct is None:
        n_rows, n_texts = df.agg(
            F.count(F.lit(1)),
            F.count_distinct(F.xxhash64(F.col(text_col))),
        ).first()
        assume_distinct = n_rows == n_texts
    if assume_distinct:
        return ngram_jaccard_rep_pairs(df, id_col, text_col, k, threshold)
    # one row per distinct text: rep id, members, shingles — shingled
    # ONCE, text dropped, then checkpointed (3 downstream branches).
    # The repartition between the aggregate and the shingle projection
    # is load-bearing (r12, guide §1.2/§7.2): without it the optimizer
    # folds the higher-order shingle expressions into the
    # ObjectHashAggregate's result expressions, where they run
    # INTERPRETED (no whole-stage codegen, no subexpression
    # elimination — split(lower(text)) re-evaluates per shingle
    # element; measured 8x: 4.3s -> 0.5s at sf0.1). The exchange keeps
    # the projection a standalone codegen stage and simultaneously
    # spreads the distinct-text rows for the three downstream scans.
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    groups = (
        df.groupBy(text_col)
        .agg(
            F.min(id_col).alias("id"),
            F.collect_list(id_col).alias("_members"),
        )
        .repartition(n_part, F.col("id"))
        .select("id", "_members", word_shingles(text_col, k).alias("sh"))
        .localCheckpoint(eager=True)
    )
    verified = _ppjoin_verified_pairs(groups.select("id", "sh"), threshold)
    return expand_pairs_to_duplicates(
        verified,
        groups.select("id", F.size("sh").alias("_nsh"), "_members"),
    )


def ngram_jaccard_rep_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Collapse-free PPJoin pair core: exact n-gram Jaccard pairs over
    rows the CALLER guarantees have pairwise-distinct texts (e.g. the
    output of a groupBy(text) collapse, or a corpus already proven
    unique). Identical output contract as
    `ngram_jaccard_prefix_filtered` on such inputs — (id_a, id_b,
    n_common, jaccard), id_a < id_b — without the duplicate-collapse
    shuffle, its eager checkpoint, or the member fan-out joins, none
    of which do anything when every duplicate group is a singleton
    (r11 verdict #1: already-collapsed catalog callers paid that
    machinery twice, 2.6-4.2x at sf0.1).

    Contract: if two input rows DO share a text, each shares every
    shingle and the pair verifies at J=1.0 — the result is still the
    exact member-level pair set, but candidate work degrades toward
    the quadratic regime the collapse exists to prevent; use
    `ngram_jaccard_prefix_filtered` when uniqueness is not known."""
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = (
        df.repartition(n_part, F.col(id_col))
        .select(
            F.col(id_col).alias("id"), word_shingles(text_col, k).alias("sh")
        )
        .localCheckpoint(eager=True)
    )
    return _ppjoin_verified_pairs(sh, threshold)


def _ppjoin_verified_pairs(
    sh: DataFrame, threshold: float, sid_min_docs: int = 20_000
) -> DataFrame:
    """Candidate generation + exact verify over a (id, sh) frame:
    prefix-filtered candidates (`_ppjoin_prefix`/`_ppjoin_candidates`),
    then array_intersect verification against the full shingle sets.
    The single definition of the verified-pair shape shared by the
    collapse-free core (`ngram_jaccard_rep_pairs`) and the
    duplicate-collapsing wrapper (`ngram_jaccard_prefix_filtered`).
    `sh` should be materialized (checkpointed) by the caller — it is
    scanned three times (postings, verify side a, verify side b).

    Above `sid_min_docs` documents the verify intersects INTEGER
    SHINGLE IDS, not shingle strings
    (r13, guide §2.3 — shuffle fewer bytes): attaching the full
    string-shingle arrays to every candidate shipped ~1.5 KB per
    pair through the second verify join's exchange (~1.9 GB at sf1's
    1.27M candidates — the single largest byte mover in the plan).
    A dictionary over the DISTINCT shingles assigns each a unique
    int64 via monotonically_increasing_id — a bijection, so
    |sidsA ∩ sidsB| is EXACTLY |A ∩ B| (no hashing, no collision
    risk) and set sizes are unchanged; per-doc sid arrays are ~4x
    smaller than the string arrays and int64 intersection beats
    string intersection on CPU too. The sid frame is eagerly
    checkpointed: both verify sides scan it, and materializing it
    freezes the (partition-dependent but then-immutable) id
    assignment so the bijection cannot drift between the two scans.

    The sid representation pays 3 extra stages (dict distinct, sid
    attach, per-doc collect) whose FIXED cost loses at small corpora
    — measured construction+noop at t=0.8: sf0.1 (5k docs) 1.03 s
    string vs 1.60 s sid, sf1 (50k docs) 9.8-10.7 s string vs
    7.7-9.2 s sid — so the representation is chosen by a count of
    the (already-materialized) `sh` frame: string arrays below
    `sid_min_docs` (metadata-cheap corpora where stage overhead
    dominates), sid arrays above it (where verify bytes/CPU
    dominate and keep growing with candidate volume). Both branches
    are exact, so the switch can never change the pair set —
    the same probe-selects-a-branch discipline as
    `ngram_jaccard_prefix_filtered`'s uniqueness probe."""
    t_eff = threshold - 1e-4
    cand = _ppjoin_candidates(_ppjoin_prefix(sh, t_eff), t_eff)
    if sh.count() < sid_min_docs:
        va = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("_sa"))
        vb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("_sb"))
    else:
        postings = sh.select("id", F.explode("sh").alias("shingle"))
        sdict = (
            postings.select("shingle")
            .distinct()
            .withColumn("_sid", F.monotonically_increasing_id())
        )
        sids = (
            postings.join(sdict, "shingle")
            .groupBy("id")
            .agg(F.collect_list("_sid").alias("_sids"))
            .localCheckpoint(eager=True)
        )
        va = sids.select(F.col("id").alias("id_a"), F.col("_sids").alias("_sa"))
        vb = sids.select(F.col("id").alias("id_b"), F.col("_sids").alias("_sb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "n_common", F.size(F.array_intersect("_sa", "_sb")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("_sa") + F.size("_sb") - F.col("n_common")).cast(
                    "double"
                ),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def expand_pairs_to_duplicates(rep_pairs: DataFrame, groups: DataFrame) -> DataFrame:
    """Fan rep-level similarity pairs back out to every exact-duplicate
    member — the output half of collapse-before-near-dedup.

    ``rep_pairs``: (id_a, id_b, n_common, jaccard) between group
    representatives (min id per distinct text). ``groups``: one row
    per distinct text with (id, _nsh = shingle-set size, _members =
    all member ids). Emits, exactly as a member-level join would:

    - every cross-group member pair (x, y) for each rep pair, with
      the rep pair's payload columns (identical texts have identical
      relations), normalized to id_a < id_b;
    - every within-group pair of a group with >= 2 members and a
      NON-EMPTY shingle set, with n_common = |shingles| and
      jaccard = 1.0 (empty-shingle duplicates have NULL/0 jaccard at
      member level and never verify — so they are skipped here too).

    Payload columns are whatever rides rep_pairs beyond the ids —
    any of n_common (long) and jaccard (double).

    Cost is one row per OUTPUT pair — linear in the answer, with no
    candidate-space amplification. Duplicate-free inputs (all groups
    singleton) return rep_pairs unchanged."""
    payload = [c for c in rep_pairs.columns if c not in ("id_a", "id_b")]
    within_payload = {
        "n_common": F.col("_nsh").cast("long"),
        "jaccard": F.lit(1.0),
    }
    unknown = [c for c in payload if c not in within_payload]
    if unknown:
        raise ValueError(
            f"expand_pairs_to_duplicates: no within-group value defined "
            f"for payload column(s) {unknown}"
        )
    mem_a = groups.select(
        F.col("id").alias("id_a"), F.col("_members").alias("_ma")
    )
    mem_b = groups.select(
        F.col("id").alias("id_b"), F.col("_members").alias("_mb")
    )
    cross = (
        rep_pairs.join(mem_a, "id_a")
        .join(mem_b, "id_b")
        .select(*payload, F.explode("_ma").alias("_x"), "_mb")
        .select(*payload, "_x", F.explode("_mb").alias("_y"))
        .select(
            F.least("_x", "_y").alias("id_a"),
            F.greatest("_x", "_y").alias("id_b"),
            *payload,
        )
    )
    within = (
        groups.filter((F.size("_members") >= 2) & (F.col("_nsh") > 0))
        .select(F.col("_nsh"), F.explode("_members").alias("_x"), "_members")
        .select("_nsh", "_x", F.explode("_members").alias("_y"))
        .filter(F.col("_x") < F.col("_y"))
        .select(
            F.col("_x").alias("id_a"),
            F.col("_y").alias("id_b"),
            *[within_payload[c].alias(c) for c in payload],
        )
    )
    return cross.unionByName(within)


def prefix_filter_candidate_count(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> tuple[int, int]:
    """(prefix_candidates, full_index_candidates) — the measured
    pruning ratio of the ACTUAL `ngram_jaccard_prefix_filtered`
    candidate join vs the full inverted index, for tests and capacity
    planning. The prefix side calls the SAME `_ppjoin_prefix` /
    `_ppjoin_candidates` helpers the operator runs — by construction,
    not by parallel maintenance. (r09 continuation review: this
    counter had kept the pre-PPJoin join shape, so it overstated the
    operator's candidate volume ~9x at sf1; r09 ADVICE then flagged
    the hand-duplicated predicates, now extracted.)"""
    t_eff = threshold - 1e-4
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, k).alias("sh")
    )
    postings = sh.select("id", F.explode("sh").alias("shingle"))
    full = (
        postings.alias("a")
        .join(
            postings.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id"), F.col("b.id"))
        .distinct()
        .count()
    )
    prefix = _ppjoin_candidates(_ppjoin_prefix(sh, t_eff), t_eff).count()
    return prefix, full


def sorted_neighborhood_candidates(
    df: DataFrame,
    sort_key_col: str,
    id_col: str,
    window: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood entity-resolution candidates: sort records
    by a fuzzy blocking key and pair each record with its next
    ``window − 1`` successors — the classic ER move for catching
    near-identical keys (typos, transposed digits) that exact-equality
    blocking (`fuzzy_join_blocked`'s method) separates into different
    blocks. Candidate volume is exactly (window−1)·n, linear by
    construction, vs blocking's Σ|block|².

    Scale shape: with `block_col` the sort is a per-block window
    (bounded partitions, the multi-pass-blocking variant of SNM); the
    leads are ONE window spec, so all pair arms ride a single
    exchange. Without a block column the sort degenerates to a global
    window — pass a coarse block (first key chars) at scale. Emits
    (id_a, key_a, id_b, key_b, offset); offset = how many sorted
    positions apart."""
    part = [F.col(block_col)] if block_col else []
    w = Window.partitionBy(*part).orderBy(F.col(sort_key_col), F.col(id_col))
    cols = [F.col(block_col).alias("block")] if block_col else []
    # window expressions must sit at the top level of a projection —
    # materialize the leads as plain columns, THEN assemble/explode.
    led = df.select(
        *cols,
        F.col(id_col).alias("id_a"),
        F.col(sort_key_col).alias("key_a"),
        *[
            c
            for i in range(1, window)
            for c in (
                F.lead(F.col(id_col), i).over(w).alias(f"_id_b{i}"),
                F.lead(F.col(sort_key_col), i).over(w).alias(f"_key_b{i}"),
            )
        ],
    )
    nb = F.explode(
        F.array(
            *[
                F.struct(
                    F.col(f"_id_b{i}").alias("id_b"),
                    F.col(f"_key_b{i}").alias("key_b"),
                    F.lit(i).alias("offset"),
                )
                for i in range(1, window)
            ]
        )
    )
    return (
        led.select(
            *(["block"] if block_col else []), "id_a", "key_a", nb.alias("nb")
        )
        .filter(F.col("nb.id_b").isNotNull())
        .select(
            *(["block"] if block_col else []),
            "id_a",
            "key_a",
            F.col("nb.id_b").alias("id_b"),
            F.col("nb.key_b").alias("key_b"),
            F.col("nb.offset").alias("offset"),
        )
    )


def edit_distance_join(
    df: DataFrame,
    key_col: str,
    id_col: str,
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """Self-join on Levenshtein distance ≤ `max_dist` with Q-GRAM
    COUNT FILTERING — the classic string-similarity-join pruning
    (Gravano et al. 2001): an edit operation destroys at most `q`
    q-grams, so strings within distance d share at least
    ``max(|a|,|b|) − q + 1 − q·d`` positional-free q-grams; pairs
    below that bound can't qualify and never reach the (expensive)
    exact Levenshtein verify. A length filter (||a|−|b|| ≤ d) prunes
    first.

    Plan: q-gram postings → count-join on shared grams (inverted
    index, same shape as the shingle family) → count/length bound
    filter → exact `levenshtein` on survivors. Emits
    (id_a, id_b, key_a, key_b, dist). Scale: candidate volume is
    bounded by shared-gram collisions, not n²; hot grams behave like
    hot shingles (AQE skew-split; a df cap composes if needed).

    Validity contract: the ≥1-shared-gram requirement is only implied
    by the count bound for keys of length ≥ q·(max_dist + 1); shorter
    keys can sit within distance while sharing no q-gram and would be
    missed — filter them out or lower q (instance-pair counting can
    only OVER-estimate the bag intersection, which keeps the filter
    lossless on the long side)."""
    # substring with a dynamic start needs expr()
    gram_expr = (
        f"filter(transform(sequence(1, greatest(length({key_col}) - {q} + 1, 1)), "
        f"i -> substring({key_col}, i, {q})), x -> length(x) = {q})"
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        F.length(key_col).alias("len"),
        F.explode(F.expr(gram_expr)).alias("gram"),
    )
    a = base.alias("a")
    b = base.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.abs(F.col("a.len") - F.col("b.len")) <= F.lit(max_dist)
            ),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.key").alias("key_a"),
            F.col("b.key").alias("key_b"),
            F.col("a.len").alias("len_a"),
            F.col("b.len").alias("len_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    bound = (
        F.greatest(F.col("len_a"), F.col("len_b"))
        - q
        + 1
        - q * max_dist
    )
    return (
        shared.filter(F.col("n_shared") >= F.greatest(bound, F.lit(1)))
        .withColumn("dist", F.levenshtein("key_a", "key_b"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "key_a", "key_b", "dist")
    )

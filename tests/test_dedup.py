"""Dedup operator tests: exactness where exact, recall where
approximate (LSH families must find planted duplicates)."""

import pytest
from pyspark.sql import functions as F

from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
    embedding_cosine_pairs,
    exact_dedup,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # 1-token edit → high jaccard
FAR = "completely different content about spark shuffles and partitions everywhere"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),          # exact dup of 0
        (2, NEAR),          # near dup of 0/1
        (3, FAR),
        (4, "tiny doc"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    kept = exact_dedup(docs, ["text"], "doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    assert ids == {0, 2, 3, 4}


def test_exact_dup_groups(docs):
    groups = exact_dup_groups(docs, ["text"], "doc_id").collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 2
    assert groups[0]["keeper_id"] == 0


def test_ngram_jaccard_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert all(3 not in p and 4 not in p for p in pairs)


def test_minhash_lsh_recall_on_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.4).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical signatures
    assert (0, 2) in pairs  # near dup found by banding


def test_simhash_finds_exact_and_near(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, max_hamming=6).collect()
    }
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 6
    assert (0, 3) not in pairs


def test_embedding_cosine_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.99, 0.01, 0.0], 0),   # near dup of 0
        (2, [0.0, 1.0, 0.0], 0),     # orthogonal
        (3, [1.0, 0.0, 0.0], 1),     # same vector, different bucket
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(df, threshold=0.9).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs            # below threshold
    assert (0, 3) not in pairs            # bucket-restricted


def test_verify_pairs_exact(docs, spark):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        verify_pairs_exact,
    )

    cand = minhash_lsh_pairs(docs, threshold=0.3)
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in verify_pairs_exact(cand, docs, threshold=0.5).collect()
    }
    assert verified[(0, 1)] == 1.0          # exact dup → true jaccard 1
    assert (0, 2) in verified               # near dup survives verify
    assert all(v >= 0.5 for v in verified.values())


def test_near_dedup_end_to_end(docs):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import near_dedup

    kept = sorted(r["doc_id"] for r in near_dedup(docs, threshold=0.5).collect())
    # doc1 (exact dup of 0) and doc2 (near dup) collapse into doc0
    assert kept == [0, 3, 4]


def test_resolve_components_merges_chains(spark):
    """A chain 1-2-3-4 plus an isolated pair (10,11): every chain
    member must resolve to 1 (not its one-hop min), so the kept set is
    {1, 10} — single-hop min-id resolution would under-merge and keep
    3 or 4."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        resolve_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    reps = {r["id"]: r["rep"] for r in resolve_components(pairs, rounds=3).collect()}
    assert reps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_from_pairs_chained_cluster(spark):
    """End-to-end drop over a chained cluster: A~B, B~C (A≁C) must
    still collapse to just A."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        dedup_from_pairs,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_from_pairs(df, pairs).collect())
    assert kept == [0, 3, 4]


def test_embedding_pandas_variant_matches_hof(spark):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_pandas,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    hof = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(emb, threshold=0.3).collect()
    }
    pdu = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs_pandas(emb, threshold=0.3).collect()
    }
    assert hof == pdu


def test_resolve_components_converged_merges_deep_chains(spark):
    """A 12-node path graph: bounded rounds=3 under-merges by design;
    the converged variant must collapse it to a single component."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        resolve_components,
        resolve_components_converged,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    bounded = {r.rep for r in resolve_components(pairs, rounds=3).collect()}
    assert len(bounded) > 1  # the documented trade of fixed rounds
    conv = resolve_components_converged(pairs)
    labels = {r.id: r.rep for r in conv.collect()}
    assert set(labels.values()) == {0}
    assert set(labels) == set(range(12))


def test_resolve_components_converged_matches_bounded_on_cliques(spark):
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        resolve_components,
        resolve_components_converged,
    )

    # two separate triangles
    tri = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    pairs = spark.createDataFrame(tri, "id_a long, id_b long")
    a = {(r.id, r.rep) for r in resolve_components(pairs, rounds=3).collect()}
    b = {(r.id, r.rep) for r in resolve_components_converged(pairs).collect()}
    assert a == b
    assert {rep for _, rep in b} == {0, 10}


def test_lsh_band_join_skew_split(spark):
    """SCALE.md claims a pathological hot LSH bucket (boilerplate
    corpus → every doc in one band bucket) is AQE skew-split rather
    than one straggler task. Evidence at test scale: shrink the skew
    thresholds so a 15x-skewed fixture trips the same
    OptimizeSkewedJoin path that 256 MB partitions trip in
    production, and assert the executed band join was split
    (SortMergeJoin(skew=true) / AQEShuffleRead skewed) while the
    pair output stays correct."""
    from pyspark.sql import functions as F

    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep the SMJ
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # enough partitions that the 4 hot band buckets concentrate in
        # a few of them (with 4 partitions every partition carries a
        # hot bucket and none exceeds the median — no skew to split)
        "spark.sql.shuffle.partitions": "16",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        hot = [(i, "the exact same boilerplate text repeated everywhere") for i in range(1500)]
        cold = [(10_000 + i, f"unique document {i} words {i * 7} {i * 13} nebula {i}") for i in range(40)]
        df = spark.createDataFrame(hot + cold, ["doc_id", "text"])
        pairs = minhash_lsh_pairs(df, num_hashes=16, bands=4, threshold=0.5)
        out = pairs.agg(F.count(F.lit(1)).alias("n_pairs"))
        n_pairs = out.collect()[0]["n_pairs"]
        # all identical docs pair up; no cross hot/cold pairs required
        assert n_pairs >= 1500 * 1499 // 2
        plan = out._jdf.queryExecution().executedPlan().toString()
        band_join = [
            line for line in plan.splitlines()
            if "SortMergeJoin" in line and "band" in line and "Final" not in line
        ]
        assert any("skew=true" in line for line in band_join), band_join
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_dedup_against_index(spark, tmp_path):
    """The incremental lifecycle: fingerprint history once, then each
    batch probes (broadcast of the batch's bands — never a corpus
    shuffle) and appends its survivors, so a later batch is deduped
    against earlier batches too."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        dedup_against_index,
        write_minhash_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "completely different content about distributed query engines and joins"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_index")
    # 16 bands of 2 rows: a one-word edit (est sim ~0.66 here) still
    # collides in ≥1 band; 4-row bands demonstrably miss this fixture
    write_minhash_index(corpus, path, num_hashes=32, bands=16)

    batch1 = spark.createDataFrame(
        [
            # near-dup of doc 1 (one word changed)
            (10, "the quick brown fox jumps over the lazy cat near the river bank"),
            (11, "a genuinely fresh document about lunar geology and basalt flows"),
        ],
        ["doc_id", "text"],
    )
    s1 = dedup_against_index(spark, batch1, path, threshold=0.5, update_index=True)
    assert [r["doc_id"] for r in s1.collect()] == [11]

    # batch 2 near-dups batch 1's SURVIVOR — caught only because the
    # index was updated
    batch2 = spark.createDataFrame(
        [
            (20, "a genuinely fresh document about lunar geology and basalt lakes"),
            (21, "unrelated text on careful benchmarking of shuffle heavy workloads"),
        ],
        ["doc_id", "text"],
    )
    s2 = dedup_against_index(spark, batch2, path, threshold=0.5, update_index=False)
    assert [r["doc_id"] for r in s2.collect()] == [21]


def test_incremental_dedup_probe_broadcasts_batch(spark, tmp_path):
    """The probe's joins must broadcast the NEW side; the persisted
    corpus index is only ever scanned — a sort-merge join here would
    mean the corpus shuffles every batch."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        dedup_against_index,
        write_minhash_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"document number {i} about topic {i % 7} with body {i * 3}") for i in range(50)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "mh_index2")
    write_minhash_index(corpus, path, num_hashes=32, bands=8)
    batch = spark.createDataFrame(
        [(100, "document number 3 about topic 3 with body 9")], ["doc_id", "text"]
    )
    out = dedup_against_index(spark, batch, path, threshold=0.5)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_incremental_dedup_rejects_mismatched_params(spark, tmp_path):
    """meta pins the index parameters; they are read back, not
    guessed, so a probe always uses the index's own geometry."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        write_minhash_index,
    )

    corpus = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    path = str(tmp_path / "mh_index3")
    write_minhash_index(corpus, path, num_hashes=16, bands=4)
    meta = spark.read.parquet(path + "/meta").first()
    assert (meta["num_hashes"], meta["bands"], meta["shingle_k"]) == (16, 4, 3)


def test_index_append_rejects_mismatched_geometry(spark, tmp_path):
    """Appending rows with a different (num_hashes, bands, shingle_k)
    would silently mix incomparable band hashes — it must raise."""
    import pytest as _pytest

    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        write_minhash_index,
    )

    corpus = spark.createDataFrame([(1, "a b c d e f g h")], ["doc_id", "text"])
    path = str(tmp_path / "mh_geom")
    write_minhash_index(corpus, path, num_hashes=16, bands=4)
    more = spark.createDataFrame([(2, "i j k l m n o p")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="geometry"):
        write_minhash_index(more, path, num_hashes=32, bands=8, mode="append")
    # same geometry appends fine
    write_minhash_index(more, path, num_hashes=16, bands=4, mode="append")
    assert spark.read.parquet(path + "/sig").count() == 2


def test_chunk_dup_stats_flags_shared_spans(spark):
    """Two docs sharing a 10-word boilerplate prefix must both report
    that chunk as duplicated; a doc with all-unique chunks reports
    dup_frac 0. Chunk text must be rebuilt in token order regardless
    of shuffle order (array_sort on (pos, word) structs)."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import chunk_dup_stats

    boiler = "subscribe to our weekly newsletter for the latest updates today"  # 10 words
    rows = [
        (0, boiler + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (1, boiler + " one two three four five six seven eight nine ten"),
        (2, "entirely unique words nothing shared here at all in this document"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in chunk_dup_stats(df, "text", "doc_id", 10).collect()}
    assert out[0]["n_chunks"] == 2 and out[0]["n_dup_chunks"] == 1
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 1
    assert out[0]["dup_frac"] == 0.5
    assert out[2]["n_dup_chunks"] == 0 and out[2]["dup_frac"] == 0.0


def test_repeated_span_merges_adjacent_windows(spark):
    """Sliding k=3 windows: a shared 5-token prefix yields exactly one
    maximal span of 5 tokens (3 overlapping flagged windows merged);
    an internal 4-token repeat inside one doc yields two spans; a doc
    with no repeated window is absent from the output. Same answer,
    and the same id type, for bigint and string doc ids."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import repeated_span_stats

    texts = [
        "a b c d e x1 x2 x3 x4",
        "a b c d e y1 y2 y3 y4",
        "p q r s p q r s",
        "totally unique tokens only here",
    ]
    for id_type, ids in (("bigint", [0, 1, 2, 3]), ("string", ["d0", "d1", "d2", "d3"])):
        df = spark.createDataFrame(
            list(zip(ids, texts)), f"doc_id {id_type}, text string"
        )
        res = repeated_span_stats(df, "text", "doc_id", 3)
        assert dict(res.dtypes)["doc_id"] == id_type
        out = {r["doc_id"]: r for r in res.collect()}
        for d in ids[:2]:
            assert out[d]["n_spans"] == 1
            assert out[d]["repeated_tokens"] == 5
            assert out[d]["repeated_frac"] == round(5 / 9, 4)
        assert out[ids[2]]["n_spans"] == 2
        assert out[ids[2]]["repeated_tokens"] == 8
        assert out[ids[2]]["repeated_frac"] == 1.0
        assert ids[3] not in out


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_window_hashes_match_catalyst_md5(spark, id_type):
    """The window-hash kernel emits exactly the rows of the Catalyst
    form md5(array_join(slice(tokens, i+1, k), ' ')) — non-ASCII
    tokens included — and skips NULL texts and docs shorter than k."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import _window_hashes
    from lottery_end_to_end_etl_data_pipeline_spark.operators.text import tokens

    texts = [
        "Ñandú café straße 日本語 テキスト  naïve   façade émigré",
        "Crème BRÛLÉE ça va ÆØÅ ñandú café straße",
        "too short",
        None,
        "plain ascii words repeat plain ascii words repeat",
    ]
    ids = list(range(len(texts))) if id_type == "bigint" else [f"doc-{i}" for i in range(len(texts))]
    df = spark.createDataFrame(list(zip(ids, texts)), f"doc_id {id_type}, text string")
    k = 3
    got = _window_hashes(df, "text", "doc_id", k)
    toks = df.select("doc_id", tokens("text").alias("_toks")).where(F.size("_toks") >= k)
    want = toks.select(
        "doc_id",
        F.size("_toks").alias("_n_tokens"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - k),
                lambda i: F.md5(F.array_join(F.slice("_toks", i + 1, k), " ")),
            )
        ).alias("pos", "_wk"),
    )
    assert got.dtypes == want.dtypes
    got_rows = sorted(got.collect())
    assert got_rows == sorted(want.collect())
    assert len(got_rows) == 6 + 6 + 6


def test_repeated_span_incremental_probes_index(spark, tmp_path):
    """A batch doc with NO internal repeat is still span-flagged when
    its window exists in the persisted corpus index; a batch doc
    absent from the corpus and internally unique yields nothing.
    Geometry mismatch (different k) must fail loudly."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        repeated_spans_against_index,
        write_span_index,
    )

    corpus = spark.createDataFrame(
        [(100, "a b c d e corpusx corpusy corpusz")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (0, "a b c d e batch1 batch2 batch3"),
            (1, "nothing shared with anyone here at all"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "spanidx")
    write_span_index(corpus, path, "text", "doc_id", 3)
    out = {
        r["doc_id"]: r
        for r in repeated_spans_against_index(batch, path, "text", "doc_id", 3).collect()
    }
    assert out[0]["n_spans"] == 1 and out[0]["repeated_tokens"] == 5
    assert 1 not in out

    with pytest.raises(ValueError, match="k=3"):
        repeated_spans_against_index(batch, path, "text", "doc_id", 5)


def test_tfidf_cosine_identical_and_disjoint(spark):
    """Identical docs must score cosine 1.0; term-disjoint docs must
    produce no pair at all (inverted index — disjoint docs never
    meet). max_df prunes ubiquitous terms so a stopword-only overlap
    drops out."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import tfidf_cosine_pairs

    rows = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),
        (2, "zeta eta theta iota"),
        (3, "the quick brown fox the lazy dog"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in tfidf_cosine_pairs(df, threshold=0.0).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) not in pairs and (1, 2) not in pairs and (2, 3) not in pairs

    # every doc shares 'the'-like terms here; max_df=2 drops terms in >2 docs
    rows2 = [
        (0, "common common unique0"),
        (1, "common common unique1"),
        (2, "common common unique2"),
    ]
    df2 = spark.createDataFrame(rows2, ["doc_id", "text"])
    out_all = tfidf_cosine_pairs(df2, threshold=0.0).count()
    out_capped = tfidf_cosine_pairs(df2, threshold=0.0, max_df=2).count()
    assert out_all == 3 and out_capped == 0


def test_cross_source_overlap_counts_and_coef(spark):
    """A 10-word chunk shared by sources a and b (and repeated within
    a — must collapse to one distinct chunk) yields one shared chunk;
    source c shares nothing and appears in no pair."""
    from lottery_end_to_end_etl_data_pipeline_spark.operators.dedup import (
        cross_source_overlap,
    )

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (0, "a", shared),
        (1, "a", shared),  # within-source repeat: still ONE distinct chunk
        (2, "a", "only in a spam words padding filler extra more stuff"),
        (3, "b", shared),
        (4, "c", "totally different text that matches nothing else at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = cross_source_overlap(df, "source", "text", "doc_id", 10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["source_a"], r["source_b"]) == ("a", "b")
    assert r["n_shared_chunks"] == 1 and (r["n_a"], r["n_b"]) == (2, 1)
    assert r["overlap_coef"] == 1.0


def test_minhash_lsh_bucket_cap_bounds_mega_clusters(spark):
    """The max_bucket_size skew guard (docs/SCALING.md round-6 review):
    a mega duplicate cluster contributes s(s-1)/2 pairs per shared
    bucket; capping drops oversized buckets before the self-join so a
    pathological cluster cannot dominate quadratically. Default (None)
    leaves the candidate set untouched."""
    mega = [(i, "the same boilerplate page body repeated everywhere") for i in range(30)]
    normal = [(100, "a perfectly unique document about lotteries"),
              (101, "a perfectly unique document about lotteries today")]
    df = spark.createDataFrame(mega + normal, ["doc_id", "text"])
    uncapped = minhash_lsh_pairs(df, threshold=0.4)
    capped = minhash_lsh_pairs(df, threshold=0.4, max_bucket_size=10)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= 30 * 29 // 2  # quadratic blowup from the mega cluster
    # cap kills the mega cluster's buckets (size 30 > 10) but keeps the
    # small near-dup pair, whose buckets are size <= 2
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got
    assert n_cap < n_un and all(a >= 100 for a, _ in got)

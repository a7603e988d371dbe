"""Property tests for text/dedup/similarity operators — the checks that
have no SQL oracle (LSH recall) plus invariants (self-similarity,
planted-duplicate recovery). SURVEY.md §7 hard-part (c)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chicago_crime_spark_ml_spark.operators.dedup import (
    add_simhash,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_hamming_pairs,
)
from chicago_crime_spark_ml_spark.operators.similarity import (
    ann_lsh_neighbors,
    cosine_topk,
)
from chicago_crime_spark_ml_spark.operators.text import add_quality_score
from chicago_crime_spark_ml_spark.sources.io import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").persist()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").persist()


# Shared base IVF stores (r14 suite-runtime cut, VERDICT r13 #1:
# shared fixtures WITHOUT weakening what the tests certify): seven
# tests each rebuilt the identical store — one seeded KMeans fit +
# partitioned write (~10 s) of the same deterministic input — before
# mutating it. The base is built once per module; every consumer takes
# a PRIVATE copy (shutil.copytree) and mutates only that, so test
# isolation and every certified property are unchanged: a copied base
# is byte-equal in content to a fresh build (write_ivf_index is a pure
# function of (input, k, seed) — the append/probe test already relied
# on that determinism by comparing a refit model's assignments against
# the store's).


def _copy_ivf_store(src: str, tmp_path, name: str) -> str:
    import shutil  # noqa: PLC0415

    dst = str(tmp_path / name)
    shutil.copytree(src, dst)
    return dst


def _ivf_base(emb, tmp_path_factory, k: int) -> str:
    from chicago_crime_spark_ml_spark.operators.similarity import (  # noqa: PLC0415
        write_ivf_index,
    )

    path = str(tmp_path_factory.mktemp("ivf_base") / f"old_k{k}")
    write_ivf_index(
        emb.filter(F.col("vec_id") % 5 != 0), path, n_clusters=k
    )
    return path


@pytest.fixture(scope="module")
def ivf_base_old8(emb, tmp_path_factory):
    return _ivf_base(emb, tmp_path_factory, 8)


@pytest.fixture(scope="module")
def ivf_base_old4(emb, tmp_path_factory):
    return _ivf_base(emb, tmp_path_factory, 4)


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }


def test_planted_near_dups_found(exact_pairs):
    # the generator plants near-duplicate docs (marked with a 'dup' token)
    assert len(exact_pairs) >= 5


def test_minhash_recovers_exact_pairs(docs, exact_pairs):
    # LSH candidates must contain every true pair (recall), almost surely
    # at J≈0.99 with 32 hash tables; we tolerate none missing.
    lsh_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.8).collect()
    }
    assert exact_pairs <= lsh_pairs


def test_simhash_identical_text_same_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "totally different words here")],
        ["doc_id", "text"],
    )
    sigs = {r.doc_id: r.simhash for r in add_simhash(df).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_simhash_pairs_subset_of_banding(docs):
    # banding (4×15 bits) must have perfect recall at hamming ≤ 3;
    # planted dups should surface with small hamming distance
    pairs = simhash_hamming_pairs(docs, max_hamming=3).collect()
    assert all(r.hamming <= 3 for r in pairs)
    assert len(pairs) >= 1


def test_cosine_topk_self_first(emb):
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    top = cosine_topk(emb, qvec, k=5).collect()
    assert top[0].vec_id == 0 and top[0].cosine == 1.0
    # scores non-increasing
    scores = [r.cosine for r in top]
    assert scores == sorted(scores, reverse=True)


def test_ann_lsh_finds_query_vector(emb):
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    res = ann_lsh_neighbors(emb, qvec, k=10).collect()
    ids = {r.vec_id for r in res}
    assert 0 in ids  # the query's own vector must be retrieved
    self_row = next(r for r in res if r.vec_id == 0)
    assert abs(self_row.cosine_est - 1.0) < 1e-6


def test_quality_score_bounds(docs):
    out = add_quality_score(docs.select("doc_id", "text"))
    bad = out.filter(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 1)
    ).count()
    assert bad == 0


def test_ann_ivf_exact_when_full_probe_and_recall_when_pruned(emb):
    from chicago_crime_spark_ml_spark.operators.similarity import (
        ann_ivf_topk,
        cosine_topk,
    )

    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = [r.vec_id for r in cosine_topk(emb, qvec, k=10).collect()]

    # probing every cell degenerates to exact brute force
    full = ann_ivf_topk(emb, qvec, k=10, n_clusters=8, n_probe=8)
    assert [r.vec_id for r in full.collect()] == exact

    # pruned probing keeps most of the true top-k (clustered testdata)
    pruned = ann_ivf_topk(emb, qvec, k=10, n_clusters=8, n_probe=2)
    got = {r.vec_id for r in pruned.collect()}
    recall = len(got & set(exact)) / 10
    assert 0 in got                 # query's own vector always lands
    assert recall >= 0.5, recall    # its cell is probed first


def test_connected_components_crafted_graph(spark):
    from chicago_crime_spark_ml_spark.operators.dedup import connected_components

    # chain 1-2-3 (diameter 2), pair 10-11, triangle 20-21-22; 99 edge-free
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_no_edges(spark):
    from chicago_crime_spark_ml_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    assert connected_components(edges).count() == 0


def test_cluster_assignment_covers_pairs(spark, sf_dir, docs, exact_pairs):
    # sf_dir must match the docs/exact_pairs fixtures — the oracle gate
    # already covers other scale factors for this query
    from chicago_crime_spark_ml_spark.queries import QUERIES

    labels = {
        r.doc_id: r.cluster_id
        for r in QUERIES["near_dup_clusters"](spark, sf_dir).collect()
    }
    # every near-dup pair must share a cluster; labels are min-ids
    for a, b in exact_pairs:
        assert labels[a] == labels[b] <= min(a, b)
    assert all(lbl <= d for d, lbl in labels.items())


def test_chunk_documents_boundaries(spark):
    from chicago_crime_spark_ml_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(70))),  # 70 toks → starts 1,25,49
         (2, "a b c"),                               # shorter than stride → 1 chunk
         (3, "x")],
        ["doc_id", "text"],
    )
    rows = {(r.doc_id, r.chunk_id): r for r in
            chunk_documents(docs, chunk_size=32, stride=24).collect()}
    assert {(d, c) for d, c in rows} == {(1, 0), (1, 1), (1, 2), (2, 0), (3, 0)}
    assert rows[(1, 0)].n_tokens == 32 and rows[(1, 2)].n_tokens == 22
    assert rows[(2, 0)].chunk_text == "a b c" and rows[(2, 0)].n_tokens == 3
    # overlap: chunk 1 starts at token 25 (0-indexed 24)
    assert rows[(1, 1)].chunk_text.split()[0] == "t24"


def test_hash_split_partitions_and_ratios(spark, docs):
    from chicago_crime_spark_ml_spark.operators.ml import hash_split

    out = hash_split(docs.select("doc_id"), "doc_id")
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert n == docs.count()
    # deterministic: same assignment on re-run
    again = {r.doc_id: r.split for r in hash_split(
        docs.select("doc_id"), "doc_id").collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again
    # rough ratio sanity (80/10/10 over 500 docs)
    assert counts["train"] > counts.get("val", 0) + counts.get("test", 0)


def test_blocked_near_dup_pairs_equals_bruteforce(spark, emb):
    # the registered query's operator: blocked-BLAS candidates + exact
    # float64 rescoring must reproduce the brute-force pair set AND
    # scores bit-for-bit (this is what keeps the driver's exact-SQL
    # oracle green without a row-level all-pairs join in the plan)
    from chicago_crime_spark_ml_spark.operators.similarity import (
        embedding_near_dup_pairs,
        near_dup_pairs_blocked,
    )

    t = 0.4
    brute = {(r.id_a, r.id_b): r.cosine
             for r in embedding_near_dup_pairs(emb, t).collect()}
    fast = {(r.id_a, r.id_b): r.cosine
            for r in near_dup_pairs_blocked(emb, t).collect()}
    assert fast == brute and len(brute) > 0


def test_blocked_near_dup_pairs_block_count_invariance(spark, emb):
    # the pair set must not depend on the block partitioning
    from chicago_crime_spark_ml_spark.operators.similarity import (
        near_dup_pairs_blocked,
    )

    a = {(r.id_a, r.id_b) for r in near_dup_pairs_blocked(emb, 0.4, n_blocks=3).collect()}
    b = {(r.id_a, r.id_b) for r in near_dup_pairs_blocked(emb, 0.4, n_blocks=16).collect()}
    assert a == b and len(a) > 0


def test_quantized_cosine_recall(spark, sf_dir):
    """int8 asymmetric quantization must keep ≥ 80% recall@10 against the
    exact float top-10, and quantized scores must track exact scores to
    within the quantization step."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_quantized,
        quantize_embeddings,
    )
    from chicago_crime_spark_ml_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    exact = [r.vec_id for r in cosine_topk(emb, qvec, k=10).collect()]
    quant = cosine_topk_quantized(quantize_embeddings(emb), qvec, k=10).collect()
    got = [r.vec_id for r in quant]
    assert len(set(exact) & set(got)) >= 8

    # int8 codes reconstruct each coordinate to |err| ≤ scale/2; cosine
    # of unit-ish vectors inherits an O(scale) bound — generous margin
    exact_scores = {
        r.vec_id: r.cosine for r in cosine_topk(emb, qvec, k=50).collect()
    }
    for r in quant:
        if r.vec_id in exact_scores:
            assert abs(r.cosine - exact_scores[r.vec_id]) < 0.02


def test_quantize_embeddings_roundtrip(spark):
    """Codes bounded to [-127,127]; dequantized values within scale/2;
    zero vectors stay all-zero with scale 0."""
    from chicago_crime_spark_ml_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0, 0.0]), (2, [100.0, -50.0, 25.0])],
        "vec_id int, embedding array<double>",
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    for vid, r in rows.items():
        assert all(-127 <= int(q) <= 127 for q in r.qvec)
        if vid == 1:
            assert r.qscale == 0.0 and all(int(q) == 0 for q in r.qvec)
        else:
            for orig, q in zip(r.embedding, r.qvec):
                assert abs(orig - int(q) * r.qscale) <= r.qscale / 2 + 1e-9


def test_trigram_udtf_equals_explode_path(spark, sf_dir):
    """The Python UDTF generator must emit exactly the rows of the pure
    explode/slice pipeline — same trigrams, same positions."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.text import (
        tokens_expr,
        trigram_udtf,
    )
    from chicago_crime_spark_ml_spark.sources.io import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    spark.udtf.register("doc_trigrams_t", trigram_udtf())
    d.select("doc_id", "text").createOrReplaceTempView("docs_tri_t")
    via_udtf = {
        (r.doc_id, r.idx, r.trigram)
        for r in spark.sql(
            "SELECT d.doc_id, t.idx, t.trigram"
            " FROM docs_tri_t d, LATERAL doc_trigrams_t(d.text) t"
        ).collect()
    }

    toks = d.select("doc_id", tokens_expr("text").alias("w"))
    via_explode = {
        (r.doc_id, r.idx, r.trigram)
        for r in toks.filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("w") - 3)).alias("idx"),
            F.col("w"),
        )
        .select(
            "doc_id",
            "idx",
            F.array_join(F.slice("w", F.col("idx") + 1, 3), " ").alias("trigram"),
        )
        .collect()
    }
    assert via_udtf == via_explode and len(via_udtf) > 0


def test_compression_ratio_orders_redundancy(spark):
    """Repetitive text must compress far below random-ish text, ratios
    land in (0, ~1.1], and the Arrow-batched UDF is deterministic."""
    from chicago_crime_spark_ml_spark.operators.text import compression_ratio

    rows = [
        (1, "the cat sat on the mat " * 50),          # highly repetitive
        (2, "q8Zw Lx3v N7pK mR2t Yc9d Ub5e Jf1g Hh4i " * 5),  # high entropy
        (3, "a"),                                      # tiny
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r.doc_id: r.compression_ratio
        for r in compression_ratio(df).collect()
    }
    assert 0.0 < got[1] < got[2] <= 1.1
    assert got[1] < 0.2          # repetition collapses
    again = {
        r.doc_id: r.compression_ratio
        for r in compression_ratio(df).collect()
    }
    assert got == again


def test_cluster_aware_split_has_zero_leakage(spark, sf_dir):
    """Splitting by near-dup cluster id must yield ZERO cross-split
    near-dup pairs — the closing property of the leakage-audit story."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from chicago_crime_spark_ml_spark.queries import QUERIES
    from chicago_crime_spark_ml_spark.sources.io import load_table

    split = QUERIES["cluster_aware_split_assignment"](spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.8
    ).select("id_a", "id_b")
    sa = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"))
    sb = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"))
    crossing = (
        pairs.join(sa, "id_a").join(sb, "id_b").filter(F.col("sa") != F.col("sb"))
    )
    assert crossing.count() == 0
    assert pairs.count() > 0  # the guarantee is non-vacuous


# --------------------------------------------------------------------------
# Incremental LSH index maintenance
# --------------------------------------------------------------------------


def test_lsh_index_delta_equals_full_rebuild_on_delta_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.dedup import (
        lsh_band_index,
        lsh_index_delta,
    )
    from chicago_crime_spark_ml_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)

    index = lsh_band_index(old)
    new_rows, pairs = lsh_index_delta(index, delta)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}

    # full rebuild's bucket-sharing pairs restricted to those touching a
    # delta doc must match exactly
    full = lsh_band_index(docs)
    a = full.select("band", "bucket", F.col("doc_id").alias("ida"))
    b = full.select("band", "bucket", F.col("doc_id").alias("idb"))
    delta_ids = {r.doc_id for r in delta.collect()}
    want = {
        (min(r.ida, r.idb), max(r.ida, r.idb))
        for r in a.join(b, ["band", "bucket"])
        .filter(F.col("ida") < F.col("idb"))
        .collect()
        if r.ida in delta_ids or r.idb in delta_ids
    }
    assert got == want
    assert len(got) > 0

    # appended index == rebuilt index (same seed -> same bucket space)
    appended = {
        (r.doc_id, r.band, r.bucket)
        for r in index.unionByName(new_rows).collect()
    }
    rebuilt = {(r.doc_id, r.band, r.bucket) for r in full.collect()}
    assert appended == rebuilt

    # replay / re-ingest (r9): probing again with a delta whose docs
    # already sit in the appended index appends ZERO new rows while
    # still reporting the delta's pairs
    rr_rows, rr_pairs = lsh_index_delta(full, delta)
    assert rr_rows.count() == 0
    assert {(r.id_a, r.id_b) for r in rr_pairs.collect()} == got


def test_lsh_index_delta_empty_delta(spark, sf_dir):
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.dedup import (
        lsh_band_index,
        lsh_index_delta,
    )
    from chicago_crime_spark_ml_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = lsh_band_index(docs)
    new_rows, pairs = lsh_index_delta(index, docs.filter(F.lit(False)))
    assert new_rows.count() == 0
    assert pairs.count() == 0


# --------------------------------------------------------------------------
# max_df ceiling — the corpus-wide quadratic-blowup guard
# --------------------------------------------------------------------------


def test_max_df_caps_boilerplate_shingle_blowup(spark):
    """A boilerplate shingle shared by EVERY doc must not emit its df²
    candidate pairs once capped: with max_df below the plant's df the
    pair count collapses to the genuinely-similar pairs; uncapped, the
    plant alone yields O(n²) candidates (here the docs share ONLY the
    boilerplate, so no pair survives the threshold at all)."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_sets,
    )

    boiler = "all rights reserved copyright notice "
    rows = [
        (i, boiler + f"unique tail {i} alpha beta gamma delta{i} epsilon{i}")
        for i in range(40)
    ]
    # two planted true near-dups sharing their whole tail
    rows.append((100, boiler + "same long tail here repeated token stream"))
    rows.append((101, boiler + "same long tail here repeated token stream"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # sanity: the boilerplate shingles really are high-df (df = 42)
    sh = shingle_sets(df, "text", "doc_id", 3).select(
        F.explode("shingles").alias("g")
    )
    max_df_actual = (
        sh.groupBy("g").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_df_actual == 42

    capped = ngram_jaccard_pairs(df, threshold=0.5, max_df=10)
    uncapped = ngram_jaccard_pairs(df, threshold=0.5, max_df=None)

    # Uncapped: boilerplate inflates |∩| for all 861 doc pairs; with a
    # 0.5 threshold the truly-identical pair qualifies either way, and
    # several boilerplate-only pairs qualify ONLY uncapped.
    capped_pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    uncapped_pairs = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert (100, 101) in capped_pairs
    assert capped_pairs <= uncapped_pairs

    # The guard's purpose: the JOIN input (posting lists) is bounded.
    # With the cap, no posting with df>10 reaches the self-join, so the
    # candidate pair space is the df<=10 shingles' pairs only.
    assert len(capped_pairs) < len(uncapped_pairs) or capped_pairs == {
        (100, 101)
    }


def test_minhash_max_bucket_drops_crowded_family(spark):
    """k identical docs fill every (band, bucket) cell they hash to with
    k rows; a cap below k drops those cells in every band, so the whole
    family's pairs vanish while a separate identical pair (disjoint
    vocabulary, so it never shares a bucket with the family) survives.
    Uncapped, every pair appears."""
    k = 5
    family = "alpha beta gamma delta epsilon zeta eta theta"
    twin = "one two three four five six seven eight"
    rows = [(i, family) for i in range(k)] + [(100, twin), (101, twin)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = minhash_lsh_pairs(df, max_bucket=k - 1).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in capped] == [(100, 101, 1.0)]

    uncapped = {
        (r.id_a, r.id_b) for r in minhash_lsh_pairs(df, max_bucket=None).collect()
    }
    family_pairs = {(a, b) for a in range(k) for b in range(a + 1, k)}
    assert uncapped == family_pairs | {(100, 101)}


def test_drop_crowded_cells_keeps_2_to_max(spark):
    """The shared occupancy guard keeps exactly the cells holding 2..max
    rows: one-row cells can never pair, over-full cells are dropped
    whole; with no cap every cell of 2 or more rows stays."""
    from chicago_crime_spark_ml_spark.operators.dedup import drop_crowded_cells

    cap = 3
    sizes = {"one": 1, "two": 2, "max": cap, "over": cap + 1}
    rows = [(c, i) for c, n in sizes.items() for i in range(n)]
    df = spark.createDataFrame(rows, ["cell", "doc_id"])

    def kept(max_rows):
        out = drop_crowded_cells(df, ["cell"], max_rows)
        assert out.columns == ["cell", "doc_id"]
        return sorted((r.cell, r.doc_id) for r in out.collect())

    def rows_of(*cells):
        return sorted(r for r in rows if r[0] in cells)

    assert kept(cap) == rows_of("two", "max")
    assert kept(None) == rows_of("two", "max", "over")


def test_minhash_bands_are_distinct_hash_functions(spark):
    """Regression lock for the transform-lambda arity trap: a
    two-parameter lambda (`lambda h, i=i:`) is PySpark's (element,
    index) form, which silently bound the band seed to the ELEMENT
    INDEX and collapsed all 8 bands to one position-seeded hash —
    recall then depended on shingle ORDER, missing J≥0.92 pairs at
    sf0.1. Real per-band seeding must give a generic doc distinct
    buckets across bands, and bucket values must be invariant to
    shingle order (set semantics)."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.dedup import (
        _hashed_shingle_sets,
        _minhash_bands,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    sets = _hashed_shingle_sets(df, "text", "doc_id", 3)
    buckets = [
        r.bucket for r in _minhash_bands(sets, "doc_id", 8, 42).collect()
    ]
    assert len(buckets) == 8
    assert len(set(buckets)) > 1, "all bands identical — seeding broken"

    # order invariance: same shingle SET, different array order
    shuffled = sets.select(
        "doc_id", F.reverse("hshingles").alias("hshingles"), "n_shingles"
    )
    b2 = [r.bucket for r in _minhash_bands(shuffled, "doc_id", 8, 42).collect()]
    assert buckets == b2, "bucket depends on shingle order — not a set hash"


def test_blocked_near_dup_pairs_ignores_null_vectors(spark):
    """A NULL embedding must be dropped, not misalign the block's
    id/vector collect_lists (collect_list skips NULLs per-column) — on
    every caller of the one block build: the batch and delta near-dup
    operators (NULL in the corpus and in the delta) and the batch top-k
    (NULL query row and NULL corpus row)."""
    from chicago_crime_spark_ml_spark.operators.similarity import (
        cosine_topk_batch,
        near_dup_delta_blocked,
        near_dup_pairs_blocked,
    )

    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0]),   # near-dup of 1
        (3, None),
        (4, [0.0, 1.0, 0.0]),    # orthogonal
    ]
    df = spark.createDataFrame(rows, schema)
    got = {(r.id_a, r.id_b) for r in
           near_dup_pairs_blocked(df, threshold=0.9, n_blocks=2).collect()}
    assert got == {(1, 2)}

    delta = spark.createDataFrame(
        [
            (5, None),
            (6, [0.0, 1.0, 0.01]),   # near-dup of 4
            (7, [0.0, 0.0, 1.0]),    # orthogonal to everything
        ],
        schema,
    )
    got = {(r.id_a, r.id_b) for r in near_dup_delta_blocked(
        df, delta, threshold=0.9, n_blocks=2
    ).collect()}
    assert got == {(4, 6)}

    queries = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, None), (12, [0.0, 1.0, 0.0])],
        "query_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    got = {(r.query_id, r.rank): r.vec_id for r in cosine_topk_batch(
        queries, df, k=2, n_blocks=2
    ).collect()}
    assert got == {(10, 1): 1, (10, 2): 2, (12, 1): 4, (12, 2): 2}


def test_nearest_cells_breaks_ties_by_lowest_cell():
    """Probe order is best cosine first, then lowest cell id — whatever
    order the centers arrive in (Spark-free)."""
    from chicago_crime_spark_ml_spark.operators.similarity import (
        _nearest_cells,
    )

    centers = [
        (3, [1.0, 0.0]),
        (0, [0.0, 1.0]),
        (2, [1.0, 0.0]),
        (1, [1.0, 0.0]),
    ]
    assert _nearest_cells([2.0, 0.0], centers, 2) == [1, 2]
    assert _nearest_cells([2.0, 0.0], centers, 4) == [1, 2, 3, 0]
    assert _nearest_cells([0.0, 1.0], centers, 1) == [0]


def test_ivf_index_probe_equals_refit_and_prunes_partitions(spark, sf_dir, emb, tmp_path):
    """The materialized IVF index must (a) return exactly what the
    refit-per-call form returns for the same (k, seed, probes), and
    (b) read only the probed cell directories — the cell filter shows
    up as a partition filter, which is the entire 100 TB point."""
    from chicago_crime_spark_ml_spark.operators.similarity import (
        ann_ivf_topk,
        probe_ivf_index,
        write_ivf_index,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "ivf_index")
    write_ivf_index(emb, path, n_clusters=8)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]

    probed = probe_ivf_index(spark, path, qvec, k=10, n_probe=2)
    refit = ann_ivf_topk(emb, qvec, k=10, n_clusters=8, n_probe=2)
    assert [tuple(r) for r in probed.collect()] == [
        tuple(r) for r in refit.collect()
    ]

    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters", 1)[1][:200]
    assert "cell" in tail


def test_cosine_topk_batch_equals_per_query_bruteforce(spark, emb):
    """Batch blocked top-k must return, for every query, exactly the
    brute-force single-query top-k id set in score order."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_batch,
    )

    queries = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    got = cosine_topk_batch(
        queries, emb, k=7, n_blocks=3
    ).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, ids in by_q.items():
        qvec = emb.filter(F.col("vec_id") == qid).first().embedding
        want = [r.vec_id for r in cosine_topk(emb, qvec, k=7).collect()]
        assert ids == want, (qid, ids, want)
        assert len(ids) == 7


def test_gen_sf1_replication_preserves_near_dup_structure(spark, tmp_path):
    """The scale-stress generator's core claim: replicating the corpus
    with copy-marker tokens makes near-dup pairs replicate LINEARLY
    (each copy contributes its own pairs; cross-copy Jaccard falls far
    below threshold). If this breaks, sf1 ratios measure a different
    workload than claimed."""
    import sys

    sys.path.insert(0, "tools")
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from gen_sf1 import replicate

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base_pairs = ngram_jaccard_pairs(docs, threshold=0.8).count()
    assert base_pairs > 0

    def doc_special(c, name, col):
        if name == "text" and c > 0:
            return F.regexp_replace(
                col, r"((?:\S+\s+){5})", r"$1cp" + str(c) + " "
            )
        return None

    twice = replicate(docs, 2, doc_special)
    assert twice.count() == 2 * docs.count()
    assert ngram_jaccard_pairs(twice, threshold=0.8).count() == 2 * base_pairs


def test_zero_vector_scores_zero_not_null(spark):
    """Pinned zero-vector semantics (ADVICE r5): cosine against a
    zero-norm vector is 0.0 — not NULL (Spark 0/0 division), which
    would sort NULLS-LAST through top-k windows and diverge from the
    numpy candidate pass that scores zero vectors 0 everywhere."""
    from chicago_crime_spark_ml_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_batch,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 0.0]),  # zero-norm corpus vector
            (2, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    top = cosine_topk(emb, [1.0, 0.0], k=3).collect()
    by_id = {r.vec_id: r.cosine for r in top}
    assert by_id[1] == 0.0  # not None
    # 0.0 outranks the negative match, exactly as documented
    assert [r.vec_id for r in top] == [0, 1, 2]

    q = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    batch = cosine_topk_batch(q, emb, k=3, n_blocks=1).collect()
    assert [(r.vec_id, r.cosine) for r in sorted(batch, key=lambda r: r.rank)] == [
        (0, 1.0),
        (1, 0.0),
        (2, -1.0),
    ]


def test_duplicated_span_profile_planted(spark):
    """Planted semantics: an 8-gram shared between two docs marks
    exactly the windows containing it; a doc repeating its OWN 8-gram
    counts too; unique-text docs score 0.0; short docs emit no row."""
    from chicago_crime_spark_ml_spark.operators.text import (
        duplicated_span_profile,
    )

    shared = "a b c d e f g h"           # 8 tokens, shared verbatim
    rows = [
        (1, shared + " unique1 tail1 xx1 yy1"),
        (2, "lead2 " + shared + " zz2"),
        (3, "only three tokens"),          # < 8 tokens: no row
        (4, "p q r s t u v w p q r s t u v w"),  # self-repeat
        (5, "totally distinct words one two three four five six"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in duplicated_span_profile(df, k=8).collect()}
    assert 3 not in got
    assert got[5].n_dup_spans == 0 and got[5].dup_fraction == 0.0
    # doc1: 12 tokens -> 5 windows, only window 1 == shared
    assert (got[1].n_spans, got[1].n_dup_spans) == (5, 1)
    # doc2: 10 tokens -> 3 windows, shared sits at window 2
    assert (got[2].n_spans, got[2].n_dup_spans) == (3, 1)
    # doc4: 16 tokens -> 9 windows; window 1 (p..w) == window 9 -> both dup
    assert got[4].n_spans == 9 and got[4].n_dup_spans == 2
    assert got[4].dup_fraction == pytest.approx(round(2 / 9, 4))


def test_excise_duplicated_spans_planted(spark):
    """Planted boilerplate is removed from EVERY copy; merged runs are
    counted once; untouched/short/empty docs flow through with
    whitespace-normalized text and zero removals."""
    from chicago_crime_spark_ml_spark.operators.text import (
        excise_duplicated_spans,
    )

    boiler = "subscribe to our newsletter for updates and offers today now"
    rows = [
        (1, f"alpha beta gamma {boiler} delta epsilon zeta eta theta"),
        (2, f"one two three four five six seven eight nine ten {boiler}"),
        (3, "unique document with no duplicated spans at all here ok"),
        (4, "short doc"),
        (5, "   "),
        (6, f"{boiler} {boiler}"),  # self-repeat: everything covered
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in excise_duplicated_spans(df, k=8).collect()}
    assert len(got) == 6  # every input doc has an output row
    # the 10-token boilerplate is excised from both carriers as ONE run
    assert got[1].text == "alpha beta gamma delta epsilon zeta eta theta"
    assert (got[1].n_tokens, got[1].n_tokens_removed, got[1].n_spans_excised) \
        == (18, 10, 1)
    assert got[2].text == "one two three four five six seven eight nine ten"
    assert got[2].n_tokens_removed == 10 and got[2].n_spans_excised == 1
    # untouched docs: normalized text, zero removals
    assert got[3].n_tokens_removed == 0 and got[3].n_spans_excised == 0
    assert got[3].text == rows[2][1]
    assert got[4].text == "short doc" and got[4].n_tokens == 2
    assert got[5].text == "" and got[5].n_tokens_removed == 0
    # self-repeating doc collapses to empty, one merged run
    assert got[6].text == ""
    assert (got[6].n_tokens, got[6].n_tokens_removed, got[6].n_spans_excised) \
        == (20, 20, 1)


def test_excise_matches_profile_signal(spark, docs):
    """Consistency with the diagnostic: docs the profile scores
    dup_fraction == 0 must be untouched by excision, and every doc with
    removals must carry a positive dup_fraction."""
    from chicago_crime_spark_ml_spark.operators.text import (
        duplicated_span_profile,
        excise_duplicated_spans,
    )

    d = docs.select("doc_id", "text")
    prof = {r.doc_id: r.dup_fraction
            for r in duplicated_span_profile(d, k=8).collect()}
    exc = excise_duplicated_spans(d, k=8).collect()
    assert len(exc) == d.count()
    for r in exc:
        frac = prof.get(r.doc_id, 0.0)
        if r.n_tokens_removed > 0:
            assert frac > 0.0
        if frac == 0.0:
            assert r.n_tokens_removed == 0 and r.n_spans_excised == 0


def test_excise_keep_first_preserves_canonical_copy(spark):
    """keep='first': the globally first occurrence (by doc_id, start)
    of each duplicated window survives; later copies are excised —
    including later repeats within the same doc."""
    from chicago_crime_spark_ml_spark.operators.text import (
        excise_duplicated_spans,
    )

    boiler = "subscribe to our newsletter for updates and offers today now"
    rows = [
        (1, f"alpha beta gamma {boiler} delta epsilon zeta eta theta"),
        (2, f"one two three four five six seven eight nine ten {boiler}"),
        (3, f"{boiler} {boiler}"),  # within-doc repeat, but doc 1 is first
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in excise_duplicated_spans(
        df, k=8, keep="first").collect()}
    # doc 1 carries the first occurrence -> fully intact
    assert got[1].text == rows[0][1]
    assert got[1].n_tokens_removed == 0 and got[1].n_spans_excised == 0
    # later carriers lose their copies
    assert got[2].text == "one two three four five six seven eight nine ten"
    assert got[2].n_tokens_removed == 10
    assert got[3].text == "" and got[3].n_tokens_removed == 20
    assert got[4].text == "short doc"
    # remove-all on the same data kills every copy including doc 1's
    all_gone = {r.doc_id: r for r in excise_duplicated_spans(
        df, k=8, keep="none").collect()}
    assert all_gone[1].n_tokens_removed == 10
    with pytest.raises(ValueError, match="keep"):
        excise_duplicated_spans(df, k=8, keep="last")


def test_bpe_learn_merges_hand_checked(spark):
    """BPE merges on a tiny corpus, hand-checked against the classic
    Sennrich et al. procedure (word-frequency-weighted adjacent-pair
    counts, greedy left-to-right merge application)."""
    from chicago_crime_spark_ml_spark.operators.text import bpe_learn_merges

    # vocab: low x3, lower x2, newest x1  (classic BPE example shape)
    df = spark.createDataFrame(
        [(1, "low low lower newest"), (2, "low lower")],
        "doc_id long, text string",
    )
    out = bpe_learn_merges(df, k=2).collect()
    r1, r2 = out[0], out[1]
    # round 1 pair counts: (l,o)=5(+0 in newest), (o,w)=5, (w,e)=2+1,
    # (e,r)=2, (n,e)=1, (e,w)=1, (e,s)=1, (s,t)=1
    # top = count 5 tie between (l,o) and (o,w) -> (l,o) by lex order
    assert (r1.left_sym, r1.right_sym, r1.pair_count) == ("l", "o", 5)
    # after merge: low -> "lo w" (2 syms), lower -> "lo w e r" (4),
    # newest -> 6 syms; weighted total = 3*2 + 2*4 + 1*6 = 20
    assert r1.n_symbols_after == 20
    # round 2: (lo,w)=5 dominates
    assert (r2.left_sym, r2.right_sym, r2.pair_count) == ("lo", "w", 5)
    # low -> "low" (1), lower -> "low e r" (3), newest 6 -> 3+6+6=15
    assert r2.n_symbols_after == 3 * 1 + 2 * 3 + 1 * 6

    # repeated-symbol greedy merge: "aaaa" -> (a,a) merges left-to-right
    df2 = spark.createDataFrame([(1, "aaaa aaaa")], "doc_id long, text string")
    m = bpe_learn_merges(df2, k=1).collect()[0]
    assert (m.left_sym, m.right_sym) == ("a", "a")
    # "a a a a" -> "aa aa": 2 symbols, 1 word with cnt 1... text has the
    # word twice -> cnt 1? tokens: ["aaaa","aaaa"] -> w count 2
    assert m.pair_count == 2 * 3  # 3 adjacent (a,a) pairs per word, cnt 2
    assert m.n_symbols_after == 2 * 2  # "aa aa" x weight 2


def test_bpe_segment_counts(spark):
    from chicago_crime_spark_ml_spark.operators.text import bpe_segment

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest low")], "doc_id long, text string"
    )
    # merges (l,o) then (lo,w): low -> 1 symbol, lower -> 3, newest -> 6
    got = {r.doc_id: r for r in bpe_segment(
        df, [("l", "o"), ("lo", "w")]).collect()}
    assert (got[1].n_tokens_ws, got[1].n_tokens_bpe) == (3, 1 + 1 + 3)
    assert (got[2].n_tokens_ws, got[2].n_tokens_bpe) == (2, 6 + 1)
    # empty merge table: BPE counts = character counts
    none = {r.doc_id: r for r in bpe_segment(df, []).collect()}
    assert none[1].n_tokens_bpe == 3 + 3 + 5


def test_excise_to_fixpoint_second_round_dup(spark):
    """Round-1 excision JOINS the shared flanks of docs whose interiors
    were different boilerplate copies — only round 2 can see the joined
    duplicate. The fixpoint wrapper must catch it; the single pass must
    not (that's the point of iterating)."""
    from chicago_crime_spark_ml_spark.operators.text import (
        excise_duplicated_spans,
        excise_duplicated_spans_to_fixpoint,
    )

    rows = [
        (0, "x1 x2 x3 p1 p2 p3 p4 y1 y2 y3"),
        (1, "x1 x2 x3 q1 q2 q3 q4 y1 y2 y3"),
        (2, "u21 u22 p1 p2 p3 p4 v21 v22"),  # 2nd copy of P, unique flanks
        (3, "u31 u32 q1 q2 q3 q4 v31 v32"),  # 2nd copy of Q
        (4, "lone tokens nothing here"),
    ]
    d = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    single = {
        r.doc_id: r for r in excise_duplicated_spans(d, k=4).collect()
    }
    fix = {
        r.doc_id: r
        for r in excise_duplicated_spans_to_fixpoint(d, k=4).collect()
    }
    # single pass removes only the boilerplate interiors
    assert single[0].n_tokens_removed == 4
    assert single[0].text == "x1 x2 x3 y1 y2 y3"
    # fixpoint: docs 0/1 became identical after round 1 -> fully excised
    for i in (0, 1):
        assert fix[i].n_tokens == 10
        assert fix[i].n_tokens_removed == 10
        assert fix[i].n_spans_excised == 2  # one run per round
        assert fix[i].text == ""
    for i in (2, 3):
        assert fix[i].n_tokens == 8
        assert fix[i].n_tokens_removed == 4
        assert fix[i].n_spans_excised == 1
    assert fix[2].text == "u21 u22 v21 v22"
    assert fix[4].text == "lone tokens nothing here"
    assert fix[4].n_tokens_removed == 0
    # max_rounds=1 degrades to the single pass
    one = {
        r.doc_id: r
        for r in excise_duplicated_spans_to_fixpoint(
            d, k=4, max_rounds=1
        ).collect()
    }
    assert one[0].n_tokens_removed == 4
    with pytest.raises(ValueError, match="max_rounds"):
        excise_duplicated_spans_to_fixpoint(d, k=4, max_rounds=0)
    # keep='first' fixpoint: canonical copies survive, no round-2 dup
    first = {
        r.doc_id: r
        for r in excise_duplicated_spans_to_fixpoint(
            d, k=4, keep="first"
        ).collect()
    }
    assert first[0].n_tokens_removed == 0  # doc 0 holds the first P copy
    assert first[2].n_tokens_removed == 4


def test_bpe_batched_equals_sequential(spark, docs):
    """Batched merge selection must reproduce the sequential trainer's
    output EXACTLY on every corpus — benign (disjoint top pairs merge
    2-per-round), adversarial (top-2 share a symbol: batch degrades to
    size 1), and the real fixture corpus."""
    from chicago_crime_spark_ml_spark.operators.text import (
        bpe_learn_merges,
        bpe_learn_merges_batched,
    )

    def rows(frame):
        return [
            (r.round, r.left_sym, r.right_sym, r.pair_count,
             r.n_symbols_after)
            for r in frame.orderBy("round").collect()
        ]

    # benign: 'ab' and 'cd' dominate disjointly
    benign = spark.createDataFrame(
        [(1, "abe abf abg cdh cdi"), (2, "ab cd ab cd xy")],
        "doc_id BIGINT, text STRING",
    )
    # adversarial: the top two pairs share 'a' -> conflict every round
    conflict = spark.createDataFrame(
        [(1, "aba aba aba abab"), (2, "ab aab ba")],
        "doc_id BIGINT, text STRING",
    )
    for d, kk in ((benign, 4), (conflict, 4)):
        seq = rows(bpe_learn_merges(d, k=kk))
        bat = rows(bpe_learn_merges_batched(d, k=kk, m=2))
        assert bat == seq
    # real corpus, the certified setting
    seq = rows(bpe_learn_merges(docs, k=6))
    bat = rows(bpe_learn_merges_batched(docs, k=6, m=2))
    assert bat == seq and len(bat) == 6
    # m=1 is plain sequential; m must be positive
    assert rows(bpe_learn_merges_batched(docs, k=3, m=1)) == seq[:3]
    with pytest.raises(ValueError, match="m must be"):
        bpe_learn_merges_batched(docs, k=3, m=0)
    # k=12/m=3 on the real corpus — the r9 delta-pair-count setting:
    # maintained counts must stay bit-identical to full recounts
    # across 12 merges (certified driver-side by
    # bpe_merge_learning_delta against the 12-round unrolled oracle)
    seq12 = rows(bpe_learn_merges(docs, k=12))
    bat12 = rows(bpe_learn_merges_batched(docs, k=12, m=3))
    assert bat12 == seq12 and len(bat12) == 12
    # vocabulary exhausts before k: maintained counts drain to empty
    tiny = spark.createDataFrame(
        [(1, "ab ab ab")], "doc_id BIGINT, text STRING"
    )
    assert rows(bpe_learn_merges_batched(tiny, k=5, m=2)) == rows(
        bpe_learn_merges(tiny, k=5)
    )
    # r12 constant 4·pc_break guard (ADVICE r11): four disjoint merges
    # whose counts (100, 81, 27, 17) clear 4·pc_break=16 at every
    # position but would have FAILED the old t·pc_break guard at t=4
    # (17 ≤ 4·pc_break holds only because 17 > 16) — asserts the wide
    # batch still reproduces sequential exactly (the xy/xz conflicters
    # pin pc_break at 4)
    steep_text = " ".join(
        ["ab"] * 100 + ["cd"] * 81 + ["ef"] * 27 + ["gh"] * 17
        + ["xy"] * 4 + ["xz"] * 4
    )
    steep = spark.createDataFrame(
        [(1, steep_text)], "doc_id BIGINT, text STRING"
    )
    seq_s = rows(bpe_learn_merges(steep, k=6))
    bat_s = rows(bpe_learn_merges_batched(steep, k=6, m=16))
    assert bat_s == seq_s
    assert [r[3] for r in seq_s[:4]] == [100, 81, 27, 17]
    # r12 (ADVICE r11): CONCAT-COLLISION corpora — run-length words
    # make a merge's concatenated token collide with LIVE vocabulary
    # symbols reachable by other merge routes ("aa"+"aa" == "aaaa" ==
    # "aaa"+"a"), the class where the min(t,3)·pc_break bound was
    # unsound (a competitor holding such a symbol has a nonzero
    # pre-count AND up to three creation channels). The constant
    # 4·pc_break guard must stay sequential-identical here.
    runs = spark.createDataFrame(
        [
            (
                i,
                " ".join(["a" * (2 + i % 5)] * (3 + i % 7))
                + " "
                + "ab" * (1 + i % 3),
            )
            for i in range(12)
        ],
        "doc_id BIGINT, text STRING",
    )
    seq_runs = rows(bpe_learn_merges(runs, k=8))
    assert rows(bpe_learn_merges_batched(runs, k=8, m=16)) == seq_runs
    # wide default m on the real corpus stays sequential-identical
    assert rows(bpe_learn_merges_batched(docs, k=12)) == seq12
    # r11: the driver-local production path (one Spark job + in-memory
    # heap-maintained rounds) must also be sequential-identical on
    # every corpus shape — benign, adversarial-overlap, steep, real,
    # and exhausting
    from chicago_crime_spark_ml_spark.operators.text import (
        bpe_learn_merges_local,
    )

    assert rows(bpe_learn_merges_local(docs, k=12)) == seq12
    assert rows(bpe_learn_merges_local(steep, k=6)) == seq_s
    for d, kk in ((benign, 4), (conflict, 4)):
        assert rows(bpe_learn_merges_local(d, k=kk)) == rows(
            bpe_learn_merges(d, k=kk)
        )
    assert rows(bpe_learn_merges_local(tiny, k=5)) == rows(
        bpe_learn_merges(tiny, k=5)
    )
    assert rows(bpe_learn_merges_local(runs, k=8)) == seq_runs
    # r12 (VERDICT r11 #6): the enforced memory contract — a vocab
    # above max_vocab_rows is COUNTED before any collect and falls
    # back to the distributed batched rounds, with identical output
    # (and min_count pruning preserved through the handoff)
    assert (
        rows(bpe_learn_merges_local(docs, k=6, max_vocab_rows=1))
        == seq
    )
    assert rows(
        bpe_learn_merges_local(runs, k=8, max_vocab_rows=1)
    ) == seq_runs
    pruned_seq = rows(bpe_learn_merges_local(docs, k=6, min_count=2))
    assert (
        rows(
            bpe_learn_merges_local(
                docs, k=6, min_count=2, max_vocab_rows=1
            )
        )
        == pruned_seq
    )


def test_ivf_index_delta_append_and_probe(spark, emb, tmp_path, ivf_base_old8):
    """Incremental IVF: delta vectors assigned to FROZEN centroids must
    match KMeansModel.transform's assignment exactly, the append must
    land in the cell-partitioned layout, and a probe after the append
    must surface a delta vector as top-1 for its own query — continuous
    embedding ingest with zero refit."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        assign_to_centroids,
        ivf_index_delta,
        probe_ivf_index,
        write_ivf_index,
    )

    old = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = _copy_ivf_store(ivf_base_old8, tmp_path, "ivf_delta_index")

    # ground truth: refit-free assignment via MLlib on the same centers
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = old.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("feat", array_to_vector("v"))
    model = KMeans(
        k=8, seed=42, featuresCol="feat", predictionCol="cell"
    ).fit(vecs)
    dv = delta.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("feat", array_to_vector("v"))
    want = {r.vec_id: r.cell for r in model.transform(dv).collect()}

    assigned = ivf_index_delta(spark, path, delta, ingest_id="batch-1")
    got = {r.vec_id: r.cell for r in assigned.collect()}
    # frozen-centroid assignment == model.transform wherever the
    # assignment is numerically decided: MLlib's norm-based
    # fastSquaredDistance rounds differently from the direct
    # sum-of-squared-differences, so a near-equidistant vector may
    # legitimately land in either cell (ADVICE r8 tolerance contract)
    import numpy as np

    from chicago_crime_spark_ml_spark.operators.similarity import (
        read_ivf_centers,
    )

    centers_np = {
        r.cell: np.array(r.center)
        for r in read_ivf_centers(spark, path).collect()
    }
    vecs_np = {
        r.vec_id: np.array([float(x) for x in r.embedding])
        for r in delta.collect()
    }
    assert set(got) == set(want)
    for vid, cell in got.items():
        v = vecs_np[vid]
        d2s = sorted(float((v - c) @ (v - c)) for c in centers_np.values())
        if d2s[1] - d2s[0] > 1e-9 * max(d2s[0], 1e-30):
            assert cell == want[vid], vid

    # appended rows are readable through the partitioned layout
    idx_ids = {r.vec_id for r in spark.read.parquet(path).collect()}
    assert idx_ids == {r.vec_id for r in emb.collect()}
    # replaying the SAME ingest overwrites its own (cell, ingest)
    # partitions — index row count unchanged, no duplicate vec_ids
    # (mode("append") would double-insert; VERDICT r8 #3)
    n_before = spark.read.parquet(path).count()
    ivf_index_delta(spark, path, delta, ingest_id="batch-1")
    after = spark.read.parquet(path)
    assert after.count() == n_before
    assert after.groupBy("vec_id").count().filter("count > 1").count() == 0
    # a probe for a delta vector's own embedding finds it (top-1)
    some_id = min(got)
    qvec = emb.filter(F.col("vec_id") == some_id).first()["embedding"]
    top = probe_ivf_index(spark, path, qvec, k=3, n_probe=3).collect()
    assert top[0].vec_id == some_id and top[0].cosine == 1.0
    # assign_to_centroids ties break on lowest cell (struct-min order)
    centers = read_ivf_centers(spark, path)
    two = assign_to_centroids(delta.limit(2), centers)
    assert two.count() == 2


def test_ivf_drift_metric_trips_on_shifted_delta(
    spark, emb, tmp_path, ivf_base_old8
):
    """The staleness signal on a REAL materialized index: a delta drawn
    from the indexed distribution reads drift ~1 (no rebuild); a delta
    shifted far outside every cell trips rebuild_recommended."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        ivf_drift_metric,
        write_ivf_index,
    )

    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = _copy_ivf_store(ivf_base_old8, tmp_path, "ivf_drift_index")

    same = ivf_drift_metric(spark, path, delta).collect()[0]
    assert same.n_delta > 0 and same.n_index > 0
    assert 0.5 < same.drift_ratio < 1.5
    assert not same.rebuild_recommended

    shifted = delta.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x + 100.0
        ).alias("embedding"),
    )
    far = ivf_drift_metric(spark, path, shifted).collect()[0]
    assert far.drift_ratio > 10
    assert far.rebuild_recommended


def test_ivf_drift_metric_heals_crashed_swap(
    spark, emb, tmp_path, ivf_base_old8
):
    """A compaction that crashed between its two renames leaves the
    store at ``path__old``: the drift metric restores it first and
    returns the healthy store's row instead of raising PATH_NOT_FOUND."""
    import os

    from chicago_crime_spark_ml_spark.operators.similarity import (
        ivf_drift_metric,
    )

    delta = emb.filter(F.col("vec_id") % 5 == 0)
    path = _copy_ivf_store(ivf_base_old8, tmp_path, "ivf_drift_crash")
    healthy = ivf_drift_metric(spark, path, delta).collect()
    os.rename(path, path + "__old")
    assert ivf_drift_metric(spark, path, delta).collect() == healthy
    assert os.path.exists(path) and not os.path.exists(path + "__old")


def test_near_dup_delta_blocked_equals_rebuild(spark, emb):
    """The delta operator must emit exactly the full blocked rebuild's
    delta-touching pairs (same scores), and never an old-old pair."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        near_dup_delta_blocked,
        near_dup_pairs_blocked,
    )

    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in near_dup_delta_blocked(corpus, delta, threshold=0.3).collect()
    }
    full = near_dup_pairs_blocked(emb, threshold=0.3)
    want = {
        (r.id_a, r.id_b): r.cosine
        for r in full.filter(
            (F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0)
        ).collect()
    }
    assert got == want and len(got) > 0
    assert all(a % 5 == 0 or b % 5 == 0 for a, b in got)  # never old-old


def test_connected_components_delta_crafted(spark):
    """Incremental CC on a crafted graph: extend a component with a new
    node, MERGE two existing components through a new node, add a
    brand-new component, and re-send an internal edge — the updated
    labeling must equal a full rebuild, and untouched components must
    keep their labels."""
    from chicago_crime_spark_ml_spark.operators.dedup import (
        connected_components,
        connected_components_delta,
    )

    old_edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["id_a", "id_b"]
    )
    labels = connected_components(old_edges)
    delta = spark.createDataFrame(
        [(3, 30), (30, 10), (40, 41), (20, 21)], ["id_a", "id_b"]
    )
    updated = {
        r.node: r.label
        for r in connected_components_delta(labels, delta).collect()
    }
    full = {
        r.node: r.label
        for r in connected_components(old_edges.unionByName(delta)).collect()
    }
    assert updated == full
    assert updated[30] == updated[1] == updated[10] == 1  # merged via 30
    assert updated[20] == 20 and updated[21] == 20        # untouched
    assert updated[40] == 40 and updated[41] == 40        # new component
    # delta with no effect (all internal edges) changes nothing
    noop = {
        r.node: r.label
        for r in connected_components_delta(
            connected_components(old_edges.unionByName(delta)),
            spark.createDataFrame([(1, 2)], ["id_a", "id_b"]),
        ).collect()
    }
    assert noop == full


def test_lsh_index_delta_changed_content_reindexed(spark):
    """ADVICE r9: a re-sent doc_id with CHANGED text is an update, not a
    replay — its new postings must be emitted (the r9 behavior silently
    dropped them, leaving the index permanently stale), while a re-sent
    id with identical text still appends zero rows."""
    from chicago_crime_spark_ml_spark.operators.dedup import (
        lsh_band_index,
        lsh_index_delta,
    )

    schema = "doc_id BIGINT, text STRING"
    old = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about query planning in spark"),
        ],
        schema,
    )
    index = lsh_band_index(old)

    # identical re-send: unchanged dup, zero new rows
    same = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")], schema
    )
    rr_rows, _ = lsh_index_delta(index, same)
    assert rr_rows.count() == 0

    # changed re-send: postings differ -> ALL new postings emitted, and
    # index ∪ new rows now covers the new content's buckets (the new
    # text's full rebuild postings are a subset of the appended index)
    changed = spark.createDataFrame(
        [(1, "an entirely different document about streaming watermarks")],
        schema,
    )
    new_rows, _ = lsh_index_delta(index, changed)
    got_new = {(r.doc_id, r.band, r.bucket) for r in new_rows.collect()}
    want_new = {
        (r.doc_id, r.band, r.bucket)
        for r in lsh_band_index(changed).collect()
    }
    assert got_new == want_new and len(got_new) > 0


def test_connected_components_delta_self_edge_new_node(spark):
    """ADVICE r9: a brand-new node whose ONLY delta edge is a self-edge
    must appear in the updated labeling (label = own id), matching a
    full rebuild over E_old ∪ E_delta; self-edges on existing nodes
    change nothing."""
    from chicago_crime_spark_ml_spark.operators.dedup import (
        connected_components,
        connected_components_delta,
    )

    old_edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    labels = connected_components(old_edges)
    delta = spark.createDataFrame(
        [(50, 50), (2, 2)], ["id_a", "id_b"]
    )
    updated = {
        r.node: r.label
        for r in connected_components_delta(labels, delta).collect()
    }
    full = {
        r.node: r.label
        for r in connected_components(old_edges.unionByName(delta)).collect()
    }
    assert updated == full
    assert updated[50] == 50  # self-edge-only new node labeled as itself
    assert updated[1] == updated[2] == 1  # untouched


def test_ivf_drift_metric_degenerate_index_guard(spark, tmp_path):
    """ADVICE r9: an index whose vectors sit EXACTLY on their centroids
    (mean_d2_index = 0) must still trip rebuild_recommended for a
    drifted delta — not emit NULL drift_ratio / NULL recommendation."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        ivf_drift_metric,
        write_ivf_index,
    )

    # 4 well-separated points, each replicated 3x: k-means with k=4
    # puts one centroid ON each point (mean of identical points), so
    # every assignment distance is exactly 0.0
    pts = [
        [100.0, 0.0, 0.0],
        [0.0, 100.0, 0.0],
        [0.0, 0.0, 100.0],
        [100.0, 100.0, 100.0],
    ]
    rows = [(i * 10 + j, p) for i, p in enumerate(pts) for j in range(3)]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    )
    path = str(tmp_path / "ivf_degenerate")
    write_ivf_index(emb, path, n_clusters=4)

    base = ivf_drift_metric(spark, path, emb).collect()[0]
    if base.mean_d2_index != 0.0:
        import pytest

        pytest.skip("k-means did not isolate each point; guard untestable")
    # perfect delta over perfect index: ratio 0, no rebuild — not NULL
    assert base.drift_ratio == 0.0
    assert base.rebuild_recommended is False

    shifted = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x + 50.0).alias(
            "embedding"
        ),
    )
    far = ivf_drift_metric(spark, path, shifted).collect()[0]
    assert far.rebuild_recommended is True
    assert far.drift_ratio is not None and far.drift_ratio > 1e6


def test_compact_ivf_index_files_per_cell(spark, emb, tmp_path, ivf_base_old4):
    """IVF compaction must preserve probe results while collapsing the
    per-ingest accumulation; files_per_cell splits big cells across
    that many files so a probed cell still reads in parallel."""
    import glob
    import os

    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        compact_ivf_index,
        ivf_index_delta,
        probe_ivf_index,
        write_ivf_index,
    )

    path = _copy_ivf_store(ivf_base_old4, tmp_path, "ivf_fpc")
    for i in range(2):
        ivf_index_delta(
            spark,
            path,
            emb.filter(
                (F.col("vec_id") % 5 == 0) & (F.col("vec_id") % 2 == i)
            ),
            ingest_id=f"b{i}",
        )
    qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    before = [
        (r.vec_id, r.cosine)
        for r in probe_ivf_index(spark, path, qvec, k=8, n_probe=4).collect()
    ]
    compact_ivf_index(spark, path, files_per_cell=2)
    after = [
        (r.vec_id, r.cosine)
        for r in probe_ivf_index(spark, path, qvec, k=8, n_probe=4).collect()
    ]
    assert after == before
    cells = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert cells
    for c in cells:
        ingests = os.listdir(os.path.join(path, c))
        assert len(ingests) == 1  # one compacted ingest partition
        files = glob.glob(os.path.join(path, c, ingests[0], "part-*"))
        assert len(files) == 2  # files_per_cell honored
    with __import__("pytest").raises(ValueError, match="files_per_cell"):
        compact_ivf_index(spark, path, files_per_cell=0)
    # r11 (ADVICE r10): the collapsed partition carries the reserved
    # sentinel — outside the ingest-id namespace, so a replayed or
    # reused ingest id can never dynamic-overwrite compacted corpus
    # partitions; the delta writer rejects the reserved names
    from chicago_crime_spark_ml_spark.operators.similarity import (
        COMPACTED_INGEST,
    )

    for c in cells:
        assert os.listdir(os.path.join(path, c)) == [
            f"ingest={COMPACTED_INGEST}"
        ]
    for bad in (COMPACTED_INGEST, "base"):
        with __import__("pytest").raises(ValueError, match="reserved"):
            ivf_index_delta(
                spark, path, emb.limit(1), ingest_id=bad
            )


def test_ivf_replace_semantics(spark, emb, tmp_path, ivf_base_old4):
    """r12 (VERDICT r11 #1/#2): a changed re-sent vec_id resolves to
    its newest version at probe time (per-id max ingest_seq within the
    probed cells) and is physically dropped by
    compact_ivf_index(replace_latest_by=); the seq registry hands a
    REPLAYED ingest id its original seq, and the version order is the
    registry's — never lexicographic over the opaque ingest ids."""
    import pytest
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.similarity import (
        _next_ingest_seq,
        compact_ivf_index,
        ivf_index_delta,
        probe_ivf_index,
        write_ivf_index,
    )

    old = emb.filter(F.col("vec_id") % 5 != 0)
    path = _copy_ivf_store(ivf_base_old4, tmp_path, "ivf_replace")
    ivf_index_delta(
        spark, path, emb.filter(F.col("vec_id") % 5 == 0), ingest_id="z9"
    )
    # changed re-send under an ingest id that sorts LEXICOGRAPHICALLY
    # BEFORE both 'base' and 'z9' — only the registry seq makes it win
    changed = emb.filter(F.col("vec_id") % 3 == 0).withColumn(
        "embedding",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.lit(1.0),
        ),
    )
    ivf_index_delta(spark, path, changed, ingest_id="a0")
    qvec = [
        float(x) + 1.0
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    expect_top = (0, 1.0)  # vec 0's CHANGED version: cosine 1.0 with q
    pre = [
        (r.vec_id, r.cosine)
        for r in probe_ivf_index(spark, path, qvec, k=8, n_probe=4).collect()
    ]
    assert pre[0] == expect_top
    assert len(pre) == len({i for i, _ in pre})  # one row per id
    compact_ivf_index(spark, path, replace_latest_by="vec_id")
    post = [
        (r.vec_id, r.cosine)
        for r in probe_ivf_index(spark, path, qvec, k=8, n_probe=4).collect()
    ]
    assert post == pre
    store = spark.read.parquet(path)
    assert store.count() == store.select("vec_id").distinct().count()
    # rows keep their per-row seq through compaction, so a LATER delta
    # still wins per id
    assert store.filter(F.col("ingest_seq") > 0).count() > 0
    # replayed ids reuse their seq; a new id advances it
    assert _next_ingest_seq(spark, path, "z9") == 1
    assert _next_ingest_seq(spark, path, "a0") == 2
    assert _next_ingest_seq(spark, path, "b1") == 3
    # path-hostile ingest ids are rejected before touching the registry
    with pytest.raises(ValueError, match="A-Za-z0-9"):
        ivf_index_delta(spark, path, emb.limit(1), ingest_id="x/y=1")
    # replace on a pre-seq store (no ingest_seq column) fails loudly
    legacy = str(tmp_path / "ivf_legacy")
    old.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        (F.col("vec_id") % 4).cast("int").alias("cell"),
        F.lit("base").alias("ingest"),
    ).write.partitionBy("cell", "ingest").parquet(legacy)
    with pytest.raises(ValueError, match="ingest_seq"):
        compact_ivf_index(spark, legacy, replace_latest_by="vec_id")
    # MIXED store (pre-seq base files + a seq-stamped delta): replace
    # compaction must treat the null-seq base rows as seq 0 — an id
    # living only in pre-seq rows must SURVIVE (null never equi-joins;
    # without the coalesce those ids silently vanished)
    dim = len(old.first()["embedding"])
    spark.createDataFrame(
        [(c, [float(c)] * dim) for c in range(4)],
        "cell INT, center ARRAY<DOUBLE>",
    ).coalesce(1).write.parquet(legacy + "__centers")
    n_legacy_ids = old.count()
    resent2 = emb.filter(
        (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 2 == 0)
    ).withColumn(
        "embedding",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.lit(2.0),
        ),
    )
    ivf_index_delta(spark, legacy, resent2, ingest_id="m1")
    # probe on the MIXED store pre-compaction: schema inference may
    # hide ingest_seq from the cheap read, but the seq registry
    # triggers the mergeSchema re-read, so the changed id still
    # resolves to its m1 version (r12 review)
    q2 = [
        float(x) + 2.0
        for x in emb.filter(F.col("vec_id") == 2).first()["embedding"]
    ]
    top_mixed = probe_ivf_index(spark, legacy, q2, k=1, n_probe=4).first()
    assert (top_mixed.vec_id, top_mixed.cosine) == (2, 1.0)
    compact_ivf_index(spark, legacy, replace_latest_by="vec_id")
    mixed = spark.read.parquet(legacy)
    assert mixed.count() == n_legacy_ids
    assert (
        mixed.select("vec_id").distinct().count() == n_legacy_ids
    )
    # two pre-seq versions of one id (a pre-r12 changed re-send):
    # their order was never recorded — replace must REFUSE, not guess
    ambiguous = str(tmp_path / "ivf_ambiguous")
    for ing in ("base", "old1"):
        old.limit(3).select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            F.lit(0).cast("int").alias("cell"),
            F.lit(ing).alias("ingest"),
        ).write.mode("append").partitionBy("cell", "ingest").parquet(
            ambiguous
        )
    spark.createDataFrame(
        [(0, [0.0] * dim)], "cell INT, center ARRAY<DOUBLE>"
    ).coalesce(1).write.parquet(ambiguous + "__centers")
    ivf_index_delta(spark, ambiguous, resent2.limit(1), ingest_id="m1")
    with pytest.raises(ValueError, match="never recorded"):
        compact_ivf_index(spark, ambiguous, replace_latest_by="vec_id")


def test_lexical_index_delta_replay_and_changed_content(spark):
    """Incremental lexical-index maintenance: appended delta == full
    rebuild; identical re-sends append zero rows; changed content is
    re-emitted — including the strict-subset case (fewer tokens, all
    surviving postings identical), which the dl = sum(tf) identity
    catches exactly."""
    from pyspark.sql import functions as F

    from chicago_crime_spark_ml_spark.operators.text import (
        lexical_index,
        lexical_index_delta,
    )

    schema = "doc_id BIGINT, text STRING"
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "spark window table"), (3, "b c")], schema
    )
    hist = docs.filter(F.col("doc_id") != 3)
    delta = docs.filter(F.col("doc_id") == 3)
    postings, doclen = lexical_index(hist)
    fp, fl = lexical_index_delta(postings, doclen, delta)
    full_p, full_l = lexical_index(docs)
    assert postings.unionByName(fp).exceptAll(full_p).count() == 0
    assert full_p.exceptAll(postings.unionByName(fp)).count() == 0
    assert doclen.unionByName(fl).exceptAll(full_l).count() == 0

    # identical re-send: zero new rows
    rp, rl = lexical_index_delta(full_p, full_l, delta)
    assert rp.count() == 0 and rl.count() == 0

    # strict-subset re-send ("a a b" -> "a a"): every new posting row
    # exists in the stored index, only dl differs — must be re-emitted
    sub = spark.createDataFrame([(1, "a a")], schema)
    sp, sl = lexical_index_delta(full_p, full_l, sub)
    assert {(r.doc_id, r.term, r.tf) for r in sp.collect()} == {(1, "a", 2)}
    assert [(r.doc_id, r.dl) for r in sl.collect()] == [(1, 2)]

    # changed-content re-send: re-emitted in full
    ch = spark.createDataFrame([(2, "entirely new words")], schema)
    cp, cl = lexical_index_delta(full_p, full_l, ch)
    assert cp.count() == 3 and cl.count() == 1


def _build_legacy_multi_ivf(spark, emb, path, base_store=None):
    """Construct the store state r12's replace-compaction refuses: a
    MIXED IVF store whose pre-``ingest_seq`` rows hold TWO versions of
    the vec_id%7==0 base ids (ingest 'base' and 'old2' — order never
    recorded), plus one r12 stamped delta ('d1', the %5==0 ids) so the
    seq machinery is live. Returns the latest-snapshot frame (what the
    caller of the migration helper would supply: the %7 base ids at
    x+0.5, everything else original)."""
    import shutil

    from chicago_crime_spark_ml_spark.operators.similarity import (
        ivf_index_delta,
        read_ivf_centers,
        write_ivf_index,
    )

    # base_store (r14): copy the module-scoped deterministic base
    # instead of re-running the identical seeded KMeans fit per caller
    if base_store:
        shutil.copytree(base_store, path)
    else:
        write_ivf_index(
            emb.filter(F.col("vec_id") % 5 != 0), path, n_clusters=4
        )
    legacy = spark.read.parquet(path).drop("ingest_seq").localCheckpoint()
    # period-correct legacy layout: the pre-r13 EXTERNAL `__centers`
    # sidecar (the rmtree below also deletes the in-store _centers the
    # current writer produces — a real pre-r13 store never had one)
    centers_rows = [
        (int(r.cell), [float(x) for x in r.center])
        for r in read_ivf_centers(spark, path).collect()
    ]
    shutil.rmtree(path)
    legacy.write.mode("overwrite").partitionBy("cell", "ingest").parquet(
        path
    )
    spark.createDataFrame(
        centers_rows, "cell INT, center ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "__centers")
    v2 = (
        legacy.filter(F.col("vec_id") % 7 == 0)
        .withColumn("v", F.transform("v", lambda x: x + F.lit(0.5)))
        .withColumn("ingest", F.lit("old2"))
    )
    v2.write.mode("append").partitionBy("cell", "ingest").parquet(path)
    ivf_index_delta(
        spark, path, emb.filter(F.col("vec_id") % 5 == 0), ingest_id="d1"
    )
    return emb.withColumn(
        "embedding",
        F.when(
            (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 7 == 0),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: x + F.lit(0.5),
            ),
        ).otherwise(F.col("embedding").cast("array<double>")),
    )


def test_seq_registry_opaque_ids_survive_and_compact(
    spark, emb, tmp_path, ivf_base_old4
):
    """ADVICE r12: the __seq registry must treat ingest ids as OPAQUE
    strings end to end — partition-type inference collapses '0123' and
    '123' to the integer 123, letting a replay of one reuse the other's
    seq (the explicit read schema prevents it). And VERDICT r12 #8:
    compact_ivf_index folds the registry's one-directory-per-ingest
    history into a single sentinel partition WITHOUT losing any id→seq
    mapping, so replays of old ingests still reuse their original seq
    and new ingests continue the order above history."""
    import os

    from chicago_crime_spark_ml_spark.operators.similarity import (
        _next_ingest_seq,
        compact_ivf_index,
        ivf_index_delta,
        probe_ivf_index,
        write_ivf_index,
    )

    path = _copy_ivf_store(ivf_base_old4, tmp_path, "ivf_seq_reg")
    d = emb.filter(F.col("vec_id") % 5 == 0)
    ivf_index_delta(
        spark, path, d.filter(F.col("vec_id") % 2 == 0), ingest_id="0123"
    )
    ivf_index_delta(
        spark, path, d.filter(F.col("vec_id") % 2 != 0), ingest_id="123"
    )
    # distinct opaque ids got distinct seqs; replays reuse their own
    assert _next_ingest_seq(spark, path, "0123") == 1
    assert _next_ingest_seq(spark, path, "123") == 2
    # maintenance folds the registry into ONE sentinel partition
    compact_ivf_index(spark, path)
    reg_dirs = [
        x for x in os.listdir(path + "__seq") if x.startswith("ingest=")
    ]
    assert reg_dirs == ["ingest=__compacted__"]
    # ...preserving every mapping through the iid data column
    assert _next_ingest_seq(spark, path, "0123") == 1
    assert _next_ingest_seq(spark, path, "123") == 2
    assert _next_ingest_seq(spark, path, "later") == 3
    # the compacted store still probes (sanity)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]
    ]
    top = probe_ivf_index(spark, path, qvec, k=1, n_probe=4).collect()
    assert top[0].vec_id == 1 and top[0].cosine == 1.0


def test_rebuild_ivf_index_migrates_refused_legacy_multi_store(
    spark, emb, tmp_path, ivf_base_old4
):
    """VERDICT r12 #2: a store holding two pre-ingest_seq versions of
    one id is REFUSED by replace-compaction (their order was never
    recorded — refusing beats guessing), and rebuild_ivf_index is the
    documented way out: the caller supplies the latest snapshot, the
    store is rebuilt at seq 0 through the crash-safe swap, and probes
    equal a from-scratch write_ivf_index on the same snapshot."""
    from chicago_crime_spark_ml_spark.operators.similarity import (
        compact_ivf_index,
        probe_ivf_index,
        rebuild_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf_legacy_multi")
    latest = _build_legacy_multi_ivf(spark, emb, path, ivf_base_old4)
    with pytest.raises(ValueError, match="pre-ingest_seq"):
        compact_ivf_index(spark, path, replace_latest_by="vec_id")
    rebuild_ivf_index(spark, path, latest, n_clusters=4)
    fresh = str(tmp_path / "ivf_fresh")
    write_ivf_index(latest, fresh, n_clusters=4)
    qvec = [
        float(x)
        for x in latest.filter(F.col("vec_id") == 1).first()["embedding"]
    ]

    def probe(p):
        return [
            (r.vec_id, r.cosine)
            for r in probe_ivf_index(spark, p, qvec, k=10, n_probe=4).collect()
        ]

    want = probe(fresh)
    assert probe(path) == want
    # replacement semantics are healthy again on the migrated store
    compact_ivf_index(spark, path, replace_latest_by="vec_id")
    assert probe(path) == want


def test_probe_surfaces_all_versions_of_legacy_multi_ids(
    spark, emb, tmp_path, ivf_base_old4
):
    """ADVICE r12: the probe must AGREE with compaction on stores it
    can detect as legacy-multi — where no version order exists it
    surfaces every pre-seq version of the ambiguous ids (the pre-r12
    behavior) instead of tie-breaking seq-0 duplicates by cosine,
    while ids with any stamped row still resolve to one latest row."""
    from collections import Counter

    from chicago_crime_spark_ml_spark.operators.similarity import (
        probe_ivf_index,
    )

    path = str(tmp_path / "ivf_legacy_probe")
    _build_legacy_multi_ivf(spark, emb, path, ivf_base_old4)
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]
    ]
    rows = probe_ivf_index(
        spark, path, qvec, k=10_000, n_probe=4
    ).collect()
    counts = Counter(r.vec_id for r in rows)
    ambiguous = {
        r.vec_id
        for r in emb.filter(
            (F.col("vec_id") % 5 != 0) & (F.col("vec_id") % 7 == 0)
        ).collect()
    }
    stamped = {
        r.vec_id
        for r in emb.filter(F.col("vec_id") % 5 == 0).collect()
    }
    for vid in ambiguous:
        assert counts[vid] == 2, (vid, counts[vid])
    for vid in stamped:
        assert counts[vid] == 1, (vid, counts[vid])
    # the query id itself is ambiguous: its original version must
    # surface at cosine 1.0 alongside its shifted twin
    assert 1.0 in [r.cosine for r in rows if r.vec_id == 7]


def test_plain_compaction_preserves_legacy_multi_version_signal(
    spark, emb, tmp_path, ivf_base_old4
):
    """r13 review: plain small-files compaction must NOT collapse rows
    without a recorded ingest_seq into the sentinel partition — doing
    so erases the countDistinct(ingest)-over-null-seq signal, after
    which the probe would tie-break unordered versions by cosine and
    replace-compaction would stop refusing and keep BOTH versions
    forever. The sentinel only ever covers rows whose version order is
    recorded; unordered rows keep their partitions (file-merge only)."""
    from collections import Counter

    import pytest

    from chicago_crime_spark_ml_spark.operators.similarity import (
        compact_ivf_index,
        probe_ivf_index,
    )

    path = str(tmp_path / "ivf_plain_legacy")
    _build_legacy_multi_ivf(spark, emb, path, ivf_base_old4)
    compact_ivf_index(spark, path)
    # the probe still surfaces BOTH pre-seq versions of an ambiguous id
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]
    ]
    rows = probe_ivf_index(
        spark, path, qvec, k=10_000, n_probe=4
    ).collect()
    counts = Counter(r.vec_id for r in rows)
    assert counts[7] == 2, counts[7]
    # stamped ids still resolve to exactly one latest row
    some_stamped = emb.filter(F.col("vec_id") % 5 == 0).first()["vec_id"]
    assert counts[some_stamped] == 1
    # and replace-compaction still refuses the unordered versions
    with pytest.raises(ValueError, match="never recorded"):
        compact_ivf_index(spark, path, replace_latest_by="vec_id")


def test_probe_dedup_survives_crashed_registry_fold(
    spark, emb, tmp_path, ivf_base_old4
):
    """r13 review: the __seq registry read heals a crashed registry
    fold for EVERY consumer — a probe on a mixed store during the
    crash window would otherwise miss the registry, skip the
    mergeSchema re-read, and surface superseded versions; and
    _next_ingest_seq would hand out a colliding seq."""
    import os

    from chicago_crime_spark_ml_spark.operators.similarity import (
        _next_ingest_seq,
        ivf_index_delta,
        probe_ivf_index,
        write_ivf_index,
    )

    path = _copy_ivf_store(ivf_base_old4, tmp_path, "ivf_reg_heal")
    # force a PRE-seq data layout for the base rows so the cheap read
    # can hide ingest_seq (mixed-store shape), keeping the r13 centers
    import shutil

    legacy = spark.read.parquet(path).drop("ingest_seq").localCheckpoint()
    for d in os.listdir(path):
        if d.startswith("cell="):
            shutil.rmtree(os.path.join(path, d))
    legacy.write.mode("append").partitionBy("cell", "ingest").parquet(path)
    changed = emb.filter(F.col("vec_id") == 2).withColumn(
        "embedding",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.lit(2.0),
        ),
    )
    ivf_index_delta(spark, path, changed, ingest_id="m1")
    reg = path + "__seq"
    # crashed fold: registry renamed aside — the probe must heal it,
    # detect the mixed store, and resolve id 2 to its m1 version
    os.rename(reg, reg + "__old")
    q2 = [
        float(x) + 2.0
        for x in emb.filter(F.col("vec_id") == 2).first()["embedding"]
    ]
    top = probe_ivf_index(spark, path, q2, k=1, n_probe=4).first()
    assert (top.vec_id, top.cosine) == (2, 1.0)
    assert os.path.exists(reg) and not os.path.exists(reg + "__old")
    # crashed fold again: seq assignment heals too — a NEW ingest
    # continues above history instead of reusing m1's seq
    os.rename(reg, reg + "__old")
    assert _next_ingest_seq(spark, path, "m2") == 2


def test_ivf_centers_live_in_store_and_swaps_are_atomic(
    spark, emb, tmp_path, ivf_base_old4
):
    """r13 review: the centroids live INSIDE the store (``_centers``),
    written into staging BEFORE the rebuild swap — so no window exists
    where a concurrent probe ranks the new cell partitioning with the
    old centroids. Compaction carries them through its swap; legacy
    external ``__centers`` sidecars still read (fallback), and a
    rebuild retires them."""
    import os

    from chicago_crime_spark_ml_spark.operators.similarity import (
        compact_ivf_index,
        probe_ivf_index,
        rebuild_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf_atomic")
    write_ivf_index(emb, path, n_clusters=4)
    assert os.path.isdir(os.path.join(path, "_centers"))
    assert not os.path.exists(path + "__centers")
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]
    ]

    def top1():
        r = probe_ivf_index(spark, path, qvec, k=1, n_probe=4).first()
        return (r.vec_id, r.cosine)

    assert top1() == (1, 1.0)
    # compaction must carry the in-store centers through its swap
    compact_ivf_index(spark, path)
    assert os.path.isdir(os.path.join(path, "_centers"))
    assert top1() == (1, 1.0)
    # a crashed swap (store renamed aside) heals on the next probe
    os.rename(path, path + "__old")
    assert top1() == (1, 1.0)
    assert os.path.exists(path) and not os.path.exists(path + "__old")
    # rebuild over a LEGACY external-sidecar store migrates the layout
    legacy = str(tmp_path / "ivf_atomic_legacy")
    _build_legacy_multi_ivf(spark, emb, legacy, ivf_base_old4)
    assert os.path.exists(legacy + "__centers")
    latest = emb
    rebuild_ivf_index(spark, legacy, latest, n_clusters=4)
    assert os.path.isdir(os.path.join(legacy, "_centers"))
    assert not os.path.exists(legacy + "__centers")
    r = probe_ivf_index(spark, legacy, qvec, k=1, n_probe=4).first()
    assert (r.vec_id, r.cosine) == (1, 1.0)

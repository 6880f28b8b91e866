"""Correctness checks for the approximate (no-SQL-oracle) LLM operators:
MinHash-LSH, SimHash, and LSH-bucketed ANN — validated against their exact
counterparts (jaccard_pairs / cosine_topk), which themselves hash-match
DuckDB in the driver gate.
"""

from collections import defaultdict

import pytest

from counsel_data_pipeline_spark.io.sources import load_table
from counsel_data_pipeline_spark.ops import similarity as sim
from counsel_data_pipeline_spark.ops import text_dedup as td

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in td.jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=None).collect()
    }


def test_minhash_lsh_recall_and_precision(docs, exact_pairs):
    lsh = {
        (r["id_a"], r["id_b"])
        for r in td.minhash_lsh_pairs(
            docs, n=3, n_hashes=16, bands=4, verify_threshold=0.5
        ).collect()
    }
    # Verified pairs are exact-jaccard-filtered → must be a subset of truth.
    assert lsh <= set(exact_pairs)
    # Banding with 16/4 at j>=0.5 should recover nearly all true pairs.
    assert len(lsh) >= 0.85 * len(exact_pairs)


def test_jaccard_prefix_filter_lossless_and_pruning(docs, exact_pairs):
    from pyspark.sql import functions as F

    # Losslessness (the AllPairs prefix-filter theorem): identical result
    # set AND identical (inter, sizes, jaccard) values vs the plain
    # exact shingle self-join.
    got = {
        (r["id_a"], r["id_b"]): (r["inter"], r["size_a"], r["size_b"], r["jaccard"])
        for r in td.jaccard_prefix_pairs(docs, n=3, t_num=1, t_den=2).collect()
    }
    assert set(got) == set(exact_pairs)
    assert all(got[k][3] == exact_pairs[k] for k in got)
    # Pruning actually engages: each doc indexes only its prefix, so the
    # indexed (id, shingle) stream is a strict subset of the full one.
    sh = td._doc_shingle_sets(docs, "doc_id", "text", 3).select(
        "id", F.explode("shs").alias("shingle")
    )
    n_full = sh.count()
    sdf = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sdf"))
    from pyspark.sql import Window

    ranked = (
        sh.join(sdf, "shingle")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("id").orderBy("sdf", "shingle")
            ),
        )
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("id")))
    )
    n_prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.expr("(sz + 1) DIV 2") + 1
    ).count()
    # t=0.5 keeps ~half of each doc's shingles (+1)
    assert n_prefix < 0.6 * n_full


def test_simhash_finds_near_identical_docs(docs, exact_pairs):
    simp = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in td.simhash_pairs(docs, max_hamming=5).collect()
    }
    near_identical = {k for k, j in exact_pairs.items() if j >= 0.95}
    covered = near_identical & set(simp)
    assert len(covered) >= 0.95 * len(near_identical)
    # Hamming distances are valid and within the bound.
    assert all(0 <= h <= 5 for h in simp.values())


def test_minhash_agrees_with_mllib_minhashlsh(docs, exact_pairs):
    """Triangulation against Spark's own MLlib MinHashLSH: an independent
    implementation (random-permutation family, banding via OR-ed hash
    tables, exact Jaccard verification on the feature vectors) run on the
    same corpus must land on the same near-dup pairs as our md5-affine
    family — agreement across two unrelated implementations pins the
    semantics, not just our arithmetic."""
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.ops.text_analysis import (
        norm_text,
        word_shingles,
    )

    feat = docs.select(
        "doc_id", word_shingles(norm_text(F.col("text")), 3).alias("shs")
    ).filter(F.size("shs") > 0)
    # 2^20 feature buckets: ~50 shingles/doc -> hash collisions are rare
    # enough that MLlib's exact-on-vectors Jaccard equals set Jaccard
    tf = HashingTF(
        inputCol="shs", outputCol="v", numFeatures=1 << 20, binary=True
    )
    vec = tf.transform(feat)
    lsh = MinHashLSH(inputCol="v", outputCol="h", numHashTables=8, seed=42)
    model = lsh.fit(vec)
    joined = model.approxSimilarityJoin(vec, vec, 0.5, distCol="d")
    mllib = {
        (r["a"], r["b"])
        for r in joined.select(
            F.col("datasetA.doc_id").alias("a"), F.col("datasetB.doc_id").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .collect()
    }
    # MLlib verifies exact Jaccard on the vectors -> subset of truth...
    assert mllib <= set(exact_pairs)
    # ...and its 8-table OR-banding should recover most true pairs.
    # Boundary consistency: approxSimilarityJoin keeps distance < 0.5
    # STRICTLY (J > 0.5) while exact_pairs uses >= 0.5, so pairs at
    # exactly J = 0.5 are excluded by semantics, not LSH chance — the
    # recall denominator must be the strict set.
    strict_truth = {k for k, j in exact_pairs.items() if j > 0.5}
    assert len(mllib & strict_truth) >= 0.8 * len(strict_truth)


def test_exact_dedup_no_false_merges(docs):
    out = td.exact_dedup(docs).collect()
    n_docs = docs.count()
    assert sum(r["n_copies"] for r in out) == n_docs
    # sf0.01 documents are all distinct → every group is a singleton.
    assert all(r["n_copies"] == 1 for r in out)


def test_ann_recall_floor(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = list(range(8))
    exact = sim.cosine_topk(emb, queries, k=10).collect()
    approx = sim.lsh_bucketed_topk(emb, queries, k=10, n_planes=4).collect()
    exn, apn = defaultdict(set), defaultdict(dict)
    for r in exact:
        exn[r["query_id"]].add(r["neighbor_id"])
    for r in approx:
        apn[r["query_id"]][r["neighbor_id"]] = r["cosine"]
    recall = sum(len(exn[q] & set(apn[q])) for q in exn) / (10 * len(exn))
    assert recall >= 0.5, f"multi-probe recall@10 degraded: {recall}"
    # Cosines computed in-bucket must equal the exact pipeline's values.
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for q, neigh in apn.items():
        for n_id, c in neigh.items():
            if (q, n_id) in exact_cos:
                assert c == exact_cos[(q, n_id)]


def test_ivf_recall_floor(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = list(range(8))
    exact = sim.cosine_topk(emb, queries, k=10).collect()
    approx = sim.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4).collect()
    exn, apn = defaultdict(set), defaultdict(dict)
    for r in exact:
        exn[r["query_id"]].add(r["neighbor_id"])
    for r in approx:
        apn[r["query_id"]][r["neighbor_id"]] = r["cosine"]
    recall = sum(len(exn[q] & set(apn[q])) for q in exn) / (10 * len(exn))
    assert recall >= 0.4, f"IVF 4/16-probe recall@10 degraded: {recall}"
    # In-cell cosines must equal the exact pipeline's values bit-for-bit.
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for q, neigh in apn.items():
        for n_id, c in neigh.items():
            if (q, n_id) in exact_cos:
                assert c == exact_cos[(q, n_id)]


def test_embedding_near_dup_topn_matches_bruteforce(spark):
    emb = load_table(spark, SF, "embeddings")
    got = sim.near_dup_pairs_topn(emb, top_n=20).collect()
    assert len(got) == 20
    assert [r["rank"] for r in sorted(got, key=lambda r: r["rank"])] == list(range(1, 21))
    # ranking is by cosine desc — verify monotonicity and pair ordering
    ordered = sorted(got, key=lambda r: r["rank"])
    for a, b in zip(ordered, ordered[1:]):
        assert a["cosine"] >= b["cosine"]
    for r in got:
        assert r["id_a"] < r["id_b"]


def test_kmeans_ivf_recall_floor_and_balance(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = list(range(8))
    exact = sim.cosine_topk(emb, queries, k=10).collect()
    cents = sim.kmeans_centroids_exact(emb, n_centroids=16, n_iters=3)
    approx = sim.ivf_topk(emb, queries, k=10, n_probe=4, centroids_df=cents).collect()
    exn, apn = defaultdict(set), defaultdict(set)
    for r in exact:
        exn[r["query_id"]].add(r["neighbor_id"])
    for r in approx:
        apn[r["query_id"]].add(r["neighbor_id"])
    recall = sum(len(exn[q] & apn[q]) for q in exn) / (10 * len(exn))
    assert recall >= 0.4, f"k-means IVF recall@10 degraded: {recall}"


def test_kmeans_improves_objective(spark):
    """Lloyd's iterations (squared distance on the integer grid) must not
    worsen the objective IVF search ranks cells by: the mean max-cosine of
    vectors to their centroid."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings")

    def objective(cents):
        e = emb.select(
            F.col("vec_id").alias("rid"),
            sim.as_double_array(F.col("embedding")).alias("__v"),
        ).withColumn("__norm", sim.l2_norm(F.col("__v")))
        s = e.crossJoin(F.broadcast(cents)).select(
            "rid",
            (sim.dot(F.col("__v"), F.col("__cv")) / (F.col("__norm") * F.col("__cn"))).alias("c"),
        )
        return (
            s.groupBy("rid").agg(F.max("c").alias("mc")).agg(F.avg("mc")).first()[0]
        )

    seed = sim.kmeans_centroids_exact(emb, n_centroids=16, n_iters=0)
    trained = sim.kmeans_centroids_exact(emb, n_centroids=16, n_iters=3)
    assert objective(trained) >= objective(seed) - 1e-9


def test_kmeans_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    a = sim.kmeans_centroids_exact(emb, n_centroids=8, n_iters=2).collect()
    b = sim.kmeans_centroids_exact(emb, n_centroids=8, n_iters=2).collect()
    ka = sorted((r["__cid"], tuple(r["__cv"])) for r in a)
    kb = sorted((r["__cid"], tuple(r["__cv"])) for r in b)
    assert ka == kb


def test_kmeans_leaves_only_its_result_pinned(spark):
    """The trainer persists its integer corpus and pins every iterate;
    once the last iterate is pinned only that result may stay stored.
    Each call used to leave the corpus and the superseded iterates
    behind for the JVM garbage collector, if it ever ran."""
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    stored = spark.sparkContext._jsc.getPersistentRDDs

    before = set(stored().keySet())
    for _ in range(3):
        sim.kmeans_centroids_exact(emb, n_centroids=8, n_iters=2).collect()
    added = set(stored().keySet()) - before
    assert len(added) <= 3, sorted(added)


def test_near_dup_lsh_scale_path_recall_and_no_broadcast(spark):
    """Above the size gate the near-dup candidate generator must be the
    banded-LSH bucket self-join: no BroadcastExchange of the corpus
    anywhere in the plan (the round-1 defect), and planted true near-dups
    (cos ≈ 0.999 — the regime the operator exists for; the raw test
    vectors are random, their top pairs sit at cos ≈ 0.5) must be found
    with high recall and bit-identical cosines."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    # plant 20 near-duplicates: copies of the 20 lowest-id vectors with a
    # deterministic ~2% perturbation on every 8th component
    planted = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i % 8 == 0, x * 1.02).otherwise(x),
            ).alias("embedding"),
        )
    )
    corpus = emb.unionByName(planted)
    expected_pairs = {(i, i + 100000) for i in range(20)}

    lsh_df = sim.near_dup_pairs_topn(corpus, top_n=20, exact_threshold=0)
    # At sf0.01 Catalyst auto-broadcasts any tiny side (fine — its call,
    # size-driven). The scale property under test is that the LSH path
    # FORCES no broadcast: with auto-broadcast off, none may remain.
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = lsh_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    exact = sim.near_dup_pairs_topn(corpus, top_n=20, exact_threshold=None).collect()
    lsh = lsh_df.collect()
    exact_pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact}
    lsh_pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in lsh}
    # the exact top-20 must be exactly the planted pairs (cos ≈ 0.9996 ≫ 0.51)
    assert set(exact_pairs) == expected_pairs
    recall = len(expected_pairs & set(lsh_pairs)) / len(expected_pairs)
    assert recall >= 0.85, f"LSH near-dup recall on planted dups too low: {recall}"
    for p in exact_pairs.keys() & lsh_pairs.keys():
        assert lsh_pairs[p] == exact_pairs[p]  # same exact fold on candidates


def test_near_dup_gate_picks_exact_below_threshold(spark):
    """At corpus sizes below the gate the plan is the blocked exact
    all-pairs path (applyInPandas over block-pair groups — the
    oracle-checked baseline), not the LSH candidate join."""
    emb = load_table(spark, SF, "embeddings")
    df = sim.near_dup_pairs_topn(emb, top_n=5)  # default threshold ≫ sf0.01
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInBatch" in plan, plan
    # and no corpus-side broadcast anywhere (the round-1 defect shape)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_near_dup_blocked_exact_multiblock_matches_single_block(spark):
    """The triangular block decomposition must be invariant to block_rows:
    forcing multiple blocks (cross-block p≠q groups + diagonal p==q
    groups) yields exactly the single-block result, bit-for-bit. The
    default tests never leave one block at sf0.01, so this pins the
    block-boundary logic (orientation, local top-n cut, dedup-free
    partner enumeration)."""
    emb = load_table(spark, SF, "embeddings")
    one = sim.near_dup_pairs_topn(emb, top_n=20, exact_threshold=None).collect()
    many = sim.near_dup_pairs_topn(
        emb, top_n=20, exact_threshold=None, block_rows=120  # 500 rows → 5 blocks
    ).collect()
    assert sorted(map(tuple, one)) == sorted(map(tuple, many))


def test_semantic_blocked_pairs_finds_planted_dups(spark):
    """True near-dups (cos ≈ 0.999) must land in a shared IVF cell and be
    verified; the blocking only prunes mid-similarity noise. Also pins the
    scale shape: candidate generation is an equi-join on cell id — no
    cartesian, no nested-loop fallback."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    planted = (
        emb.filter(F.col("vec_id") < 20)
        .select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i % 8 == 0, x * 1.02).otherwise(x),
            ).alias("embedding"),
        )
    )
    corpus = emb.unionByName(planted)
    expected = {(i, i + 100000) for i in range(20)}

    df = sim.semantic_blocked_pairs(corpus, threshold=0.9, probes=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the only nested-loop join allowed is the 16-row centroid fan-out;
    # pair verification must be the per-cell grouped Arrow pass (vectors
    # cross the Python boundary once per cell, not once per pair)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInBatch" in plan, plan

    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    recall = len(expected & got) / len(expected)
    assert recall >= 0.9, f"semantic blocking lost planted near-dups: {recall}"
    # nothing below the verify threshold leaks through
    assert all(r["cosine"] >= 0.9 for r in df.collect())


def test_chunk_dedup_counts_planted_duplicate_chunks(spark):
    """Two docs sharing an exact 40-token window must register as one
    duplicated chunk in their language bucket; the boundary chunk (the
    short remainder) still counts."""
    from pyspark.sql import functions as F

    shared = " ".join(f"w{i}" for i in range(40))          # one full window
    docs = spark.createDataFrame(
        [
            (1, shared + " tail-a tail-b", "en"),          # chunks: [shared, 'tail-a tail-b']
            (2, shared + " other ending here", "en"),      # chunks: [shared, 'other ending here']
            (3, "completely different text", "de"),        # 1 chunk, unique
        ],
        "doc_id long, text string, lang string",
    )
    from counsel_data_pipeline_spark.ops.curation import chunk_dedup_stats_frame

    stats = {r["lang"]: r for r in chunk_dedup_stats_frame(docs, size=40).collect()}
    assert stats["en"]["total_chunks"] == 4 and stats["en"]["distinct_chunks"] == 3
    assert stats["en"]["dup_chunks"] == 1 and stats["en"]["dup_ratio"] == 0.25
    assert stats["de"]["total_chunks"] == 1 and stats["de"]["dup_chunks"] == 0


def test_quantized_topk_recall_and_code_range(spark):
    emb = load_table(spark, SF, "embeddings")
    queries = list(range(8))
    exact = sim.cosine_topk(emb, queries, k=10).collect()
    quant = sim.quantized_topk(emb, queries, k=10).collect()
    exn, qn = defaultdict(set), defaultdict(set)
    for r in exact:
        exn[r["query_id"]].add(r["neighbor_id"])
    for r in quant:
        qn[r["query_id"]].add(r["neighbor_id"])
        assert 1 <= r["rank"] <= 10
        # unit vectors: |qdot| ≤ 64·127²
        assert abs(r["qdot"]) <= 64 * 127 * 127
    # 8-bit quantization only perturbs near-ties: recall@10 stays high.
    recalls = [len(exn[q] & qn[q]) / 10 for q in queries]
    assert sum(recalls) / len(recalls) >= 0.8, recalls

    # Codes really are bounded [-127, 127] after unit normalization.
    from pyspark.sql import functions as F

    coded = emb.select(
        sim.as_double_array(F.col("embedding")).alias("v")
    ).select(
        sim.quantize_unit(F.col("v"), sim.l2_norm(F.col("v"))).alias("q")
    )
    mm = coded.select(
        F.min(F.array_min("q")).alias("lo"), F.max(F.array_max("q")).alias("hi")
    ).first()
    assert mm["lo"] >= -127 and mm["hi"] <= 127


def test_pack_sequences_invariants(spark):
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.ops.curation import pack_sequences
    from counsel_data_pipeline_spark.ops.text_analysis import token_count

    docs = load_table(spark, SF, "documents")
    ctx = 256
    out = pack_sequences(docs, ctx_len=ctx, n_shards=8).collect()
    assert len(out) == 8  # md5 sharding reaches every bucket at 500 docs
    assert sum(r["n_docs"] for r in out) == docs.count()
    total_tokens = docs.select(
        F.sum(token_count(F.col("text"))).alias("t")
    ).first()["t"]
    assert sum(r["total_tokens"] for r in out) == total_tokens
    for r in out:
        # ceil-division contract between totals and sequence counts
        assert r["n_sequences"] == (r["total_tokens"] + ctx - 1) // ctx
        assert r["tail_tokens"] == r["total_tokens"] % ctx
        # a doc can only be split if the shard has >1 sequence
        if r["n_sequences"] <= 1:
            assert r["n_split_docs"] == 0
        assert 0 <= r["n_split_docs"] <= r["n_docs"]


def test_dedup_pipeline_accounting(spark):
    """n_final ≤ n_exact_unique ≤ n_docs per lang, totals add up, and the
    near-dropped count equals the non-survivor membership of the clusters
    the Jaccard+CC chain finds on the same survivors."""
    from counsel_data_pipeline_spark.catalog import all_queries

    rows = all_queries()["llm_dedup_pipeline"].fn(spark, SF).collect()
    assert {r["lang"] for r in rows} == {"de", "en", "es", "fr", "zh"}
    for r in rows:
        assert r["n_final"] == r["n_exact_unique"] - r["n_near_dropped"]
        assert r["n_final"] <= r["n_exact_unique"] <= r["n_docs"]


def test_temperature_resample_balances_languages(spark):
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.ops.curation import temperature_resample

    docs = load_table(spark, SF, "documents")
    out = temperature_resample(docs)
    stats = {
        r["lang"]: r
        for r in out.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_in"),
            F.count(F.lit(1)).alias("n_out"),
        )
        .collect()
    }
    in_counts = {r["lang"]: r["cnt"] for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    mx = max(in_counts.values())
    # no document is dropped (factors are >= 1), realized factor tracks
    # sqrt(max/n) within the resolution of the fractional-repetition hash
    for lang, n in in_counts.items():
        s = stats[lang]
        assert s["n_in"] == n
        want = (mx / n) ** 0.5
        got = s["n_out"] / n
        assert abs(got - want) <= 0.15, (lang, want, got)
    # the dominant language is exactly unchanged (factor 1.0)
    dom = max(in_counts, key=in_counts.get)
    assert stats[dom]["n_out"] == in_counts[dom]
    # copy_id is a proper 1..k sequence per doc
    bad = (
        out.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("k"), F.max("copy_id").alias("mx"), F.min("copy_id").alias("mn"))
        .filter((F.col("mx") != F.col("k")) | (F.col("mn") != 1))
        .count()
    )
    assert bad == 0


def test_incremental_dedup_verdict_classes(spark, docs):
    """Plant one duplicate of each class and check the verdict + partner:
    an exact copy of an existing doc, an exact copy of a new doc, a near
    copy (one token changed) of an existing doc, and a near copy of a new
    doc; everything else stays unique."""
    from pyspark.sql import functions as F

    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 100)

    def copy_of(src_id, new_id, mutate=False):
        d = base.filter(F.col("doc_id") == src_id).select(
            F.lit(new_id).cast("bigint").alias("doc_id"),
            (
                F.concat(F.col("text"), F.lit(" zzzmut"))
                if mutate
                else F.col("text")
            ).alias("text"),
        )
        return d

    corpus = (
        base
        .unionByName(copy_of(0, 1001))               # exact copy of existing 0
        .unionByName(copy_of(1, 1003))               # exact copy of lower-id new 1
        .unionByName(copy_of(2, 1005, mutate=True))  # near copy of existing 2
        .unionByName(copy_of(3, 1007, mutate=True))  # near copy of lower-id new 3
    )
    out = {
        r["doc_id"]: r
        for r in td.incremental_dedup(
            corpus, is_new=(F.col("doc_id") % 2 == 1)
        ).collect()
    }
    # 1001 (new) is an exact copy of 0 (even → existing)
    assert out[1001]["verdict"] == "exact_existing" and out[1001]["dup_of"] == 0
    # 1003 (new) is an exact copy of 1 (odd → a lower-id NEW doc)
    assert out[1003]["verdict"] == "exact_new" and out[1003]["dup_of"] == 1
    # 1005 (new) is a near copy of 2 (existing): one appended token
    assert out[1005]["verdict"] == "near_existing" and out[1005]["dup_of"] == 2
    # 1007 (new) is a near copy of 3 (lower-id new)
    assert out[1007]["verdict"] == "near_new" and out[1007]["dup_of"] == 3
    # the mutated sources themselves: 3 is new and has no lower-id match
    assert out[3]["verdict"] == "unique" and out[3]["dup_of"] == -1
    # every new doc got exactly one verdict row
    n_new = corpus.filter(F.col("doc_id") % 2 == 1).count()
    assert len(out) == n_new


def test_near_dup_topn_excludes_zero_norm_vectors(spark):
    """Cosine is undefined for zero-norm vectors; the op excludes them up
    front (as does the oracle). The pre-fix behavior was worse than NaN:
    the Arrow exchange turned pandas NaN into NULL, so the two physical
    paths even disagreed on where such pairs rank."""
    from pyspark.sql import functions as F

    emb = load_table(spark, SF, "embeddings").filter(F.col("vec_id") < 20)
    base = emb.select(
        "vec_id", sim.as_double_array(F.col("embedding")).alias("embedding")
    )
    zeros = spark.range(5).select(
        (F.col("id") + 500000).alias("vec_id"),
        F.array_repeat(F.lit(0.0), 64).alias("embedding"),
    )
    # block_rows=8 exercises the multi-block grouping
    with_zeros = sim.near_dup_pairs_topn(
        base.unionByName(zeros), top_n=20, n_rows=25, block_rows=8
    ).collect()
    without = sim.near_dup_pairs_topn(
        base, top_n=20, n_rows=20, block_rows=8
    ).collect()
    key = lambda rows: [(r["id_a"], r["id_b"], r["cosine"], r["rank"]) for r in
                        sorted(rows, key=lambda r: r["rank"])]
    assert key(with_zeros) == key(without)
    assert all(r["cosine"] is not None for r in with_zeros)
    assert all(r["id_a"] < 500000 and r["id_b"] < 500000 for r in with_zeros)


def test_new_ops_handle_empty_input(spark):
    """Empty corpora must produce empty (not crashing) results — the
    incremental/packing/resampling ops all sit in pipelines where an
    empty delta is a normal state (reference T2: empty-delta early exit)."""
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.ops.curation import (
        pack_sequences,
        temperature_resample,
    )

    empty_docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    assert pack_sequences(empty_docs).count() == 0
    assert temperature_resample(empty_docs).count() == 0
    verdicts = td.incremental_dedup(
        empty_docs, is_new=(F.col("doc_id") % 2 == 1)
    )
    assert verdicts.count() == 0

    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.quantized_topk(empty_vecs, [0], k=5).count() == 0


def test_source_cap_invariants(spark):
    from counsel_data_pipeline_spark.catalog import all_queries

    rows = all_queries()["curation_source_cap"].fn(spark, SF).collect()
    assert len(rows) == 20  # every source present
    for r in rows:
        assert r["n_kept"] == min(r["n_docs"], 15)
        assert r["kept_tokens"] > 0
        if r["n_docs"] <= 15:
            assert r["dropped_tokens"] == 0


def test_embedding_dim_profile_sane(spark):
    from counsel_data_pipeline_spark.catalog import all_queries

    rows = {r["pos"]: r for r in
            all_queries()["sim_embedding_dim_profile"].fn(spark, SF).collect()}
    assert set(rows) == set(range(64))
    n_vecs = load_table(spark, SF, "embeddings").count()
    for r in rows.values():
        assert r["n"] == n_vecs
        assert r["dim_min"] <= r["dim_mean"] <= r["dim_max"]
        assert r["dim_std"] >= 0.0


def test_gopher_flags_rules(spark):
    from counsel_data_pipeline_spark.ops.curation import gopher_flags

    good = "The quick brown fox jumps over the lazy dog and then runs to be " \
           "free of all that it could have seen with plenty more words " * 3
    short = "too few words here"
    bullets = "\n".join(f"- item {i} in the listing of the things" for i in range(10))
    symbols = "the be to of and that have with " + "# " * 40
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, bullets), (4, symbols)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_flags(df).collect()}

    assert rows[1]["keep"] is True
    assert rows[1]["n_required_stops"] >= 2
    assert rows[1]["alpha_word_ratio"] == 1.0

    assert rows[2]["keep"] is False  # fails the 50-word minimum
    assert rows[2]["n_words"] == 4

    assert rows[3]["keep"] is False  # every line is a bullet
    assert rows[3]["bullet_line_ratio"] == 1.0

    assert rows[4]["keep"] is False  # symbol ratio 40/48 >> 0.1
    assert rows[4]["symbol_ratio"] > 0.1
    # '#' is not an alphabetic word
    assert rows[4]["alpha_word_ratio"] < 0.8


def test_duplicate_span_coverage_semantics(spark):
    from counsel_data_pipeline_spark.ops.text_dedup import duplicate_span_coverage

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    w = "w{} x{} y{} z{}"
    uniq_a = " ".join(w.format(i, i, i, i) for i in range(4))   # 16 unique tokens
    uniq_b = " ".join(w.format(i + 9, i + 9, i + 9, i + 9) for i in range(4))
    df = spark.createDataFrame(
        [
            (1, f"{shared} {uniq_a}"),          # shared span at pos 0
            (2, f"{uniq_b} {shared}"),          # shared span at pos 16
            (3, "totally different words with no duplication at all present here"),
            (4, f"{shared} filler {shared}"),   # also self-repeating
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in duplicate_span_coverage(df, k=8).collect()}

    # doc 3 shares no 8-token span with anything
    assert rows[3]["dup_tokens"] == 0 and rows[3]["dup_ratio"] == 0.0
    # docs 1/2: exactly the 8 shared tokens are covered (the window spans
    # crossing into unique tokens occur once corpus-wide)
    assert rows[1]["dup_tokens"] == 8
    assert rows[2]["dup_tokens"] == 8
    assert rows[1]["n_tokens"] == 24
    assert rows[1]["dup_ratio"] == 8 / 24
    # doc 4 contains the span twice -> both occurrences covered
    assert rows[4]["dup_tokens"] == 16
    assert rows[4]["n_tokens"] == 17


def test_duplicate_span_interval_merge_overlap(spark):
    from counsel_data_pipeline_spark.ops.text_dedup import duplicate_span_coverage

    # doc 1 and doc 2 share a 10-token run: its three overlapping 8-grams
    # produce intervals [0,8),[1,9),[2,10) which must merge to 10 covered
    # tokens, not 24.
    run = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    df = spark.createDataFrame(
        [(1, f"{run} tail1 tail2"), (2, f"head1 head2 {run}")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in duplicate_span_coverage(df, k=8).collect()}
    assert rows[1]["dup_tokens"] == 10
    assert rows[2]["dup_tokens"] == 10


def test_shuffle_order_is_deterministic_permutation(spark):
    from counsel_data_pipeline_spark.ops.curation import shuffle_order

    docs = load_table(spark, SF, "documents")
    n = docs.count()
    out1 = {r["doc_id"]: (r["position"], r["shard"], r["bucket"])
            for r in shuffle_order(docs).collect()}
    # permutation of 0..n-1
    assert sorted(p for p, _, _ in out1.values()) == list(range(n))
    # deterministic across independent executions
    out2 = {r["doc_id"]: (r["position"], r["shard"], r["bucket"])
            for r in shuffle_order(docs).collect()}
    assert out1 == out2
    # round-robin shards are balanced to within one element
    from collections import Counter

    sh = Counter(s for _, s, _ in out1.values())
    assert max(sh.values()) - min(sh.values()) <= 1
    # the order is actually shuffled, not id order
    by_pos = [d for d, (p, _, _) in sorted(out1.items(), key=lambda kv: kv[1][0])]
    assert by_pos != sorted(by_pos)


def test_c4_flags_rules(spark):
    from counsel_data_pipeline_spark.ops.curation import c4_flags

    df = spark.createDataFrame(
        [
            (1, "This is fine. It has sentences! Three of them?"),
            (2, "no sentences here at all"),
            (3, "Lorem ipsum dolor sit amet. More text. And more."),
            (4, "function f() { return 1; }. Yes. Code."),
            (5, "Read our privacy policy. It is long. Truly."),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in c4_flags(df).collect()}
    assert rows[1]["keep"] is True and rows[1]["n_sentences"] == 3
    assert rows[2]["keep"] is False and rows[2]["n_sentences"] == 0
    assert rows[3]["keep"] is False and rows[3]["has_lorem_ipsum"] is True
    assert rows[4]["keep"] is False and rows[4]["has_curly_brace"] is True
    assert rows[5]["keep"] is False and rows[5]["has_policy_phrase"] is True
    assert rows[1]["terminal_line_ratio"] == 1.0


def test_corpus_prep_v2_manifest(spark):
    from counsel_data_pipeline_spark.catalog import all_queries

    rows = all_queries()["llm_corpus_prep_v2"].fn(spark, SF).collect()
    # non-degenerate: docs survive the gates and spread over all 8 shards
    assert len(rows) == 8
    total = sum(r["n_docs"] for r in rows)
    assert total > 50
    # round-robin sharding balances doc counts to within one
    counts = [r["n_docs"] for r in rows]
    assert max(counts) - min(counts) <= 1
    for r in rows:
        assert r["total_tokens"] > 0


def test_keep_list_verdicts(spark):
    from counsel_data_pipeline_spark.ops.clusters import keep_list_frame

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " extra"          # high jaccard with base
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, "totally different words entirely here now"),
         # identical SHORT texts (< n tokens -> no shingles): exact edges
         # must still connect them (regression for the shingle-less gap)
         (5, "hi there"), (6, "hi there"), (7, "hi there")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in keep_list_frame(df).collect()}
    assert rows[1]["verdict"] == "keep" and rows[1]["reason"] == "canonical"
    assert rows[2]["verdict"] == "drop" and rows[2]["reason"] == "exact" and rows[2]["dup_of"] == 1
    assert rows[3]["verdict"] == "drop" and rows[3]["reason"] == "near" and rows[3]["dup_of"] == 1
    assert rows[4]["verdict"] == "keep" and rows[4]["dup_of"] == -1
    assert rows[5]["verdict"] == "keep" and rows[5]["reason"] == "canonical"
    for d in (6, 7):  # 3-member exact group: star edges reach the middle member
        assert rows[d]["verdict"] == "drop" and rows[d]["reason"] == "exact"
        assert rows[d]["dup_of"] == 5


def test_ivf_append_equals_rebuild(spark, tmp_path):
    # Incremental maintenance invariant: appending a batch to the store
    # (cells assigned from the STORED centroids) must produce exactly the
    # store a from-scratch build over initial ∪ appended yields when
    # seeded with the initial batch's centroids.
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.io.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    initial = emb.filter(F.col("vec_id") % 4 == 0)
    batch = emb.filter(F.col("vec_id") % 4 == 2)

    incr = str(tmp_path / "incr")
    sim.build_ivf_index(initial, incr, n_centroids=8)
    sim.append_ivf_index(spark, incr, batch, gen=1)

    scratch = str(tmp_path / "scratch")
    sim.build_ivf_index(
        initial.unionByName(batch), scratch, n_centroids=8,
        centroid_source=initial,
    )

    def snap(path):
        return {
            (r.vec_id, r.cell, tuple(r.v))
            for r in spark.read.parquet(f"{path}/lists").collect()
        }

    assert snap(incr) == snap(scratch)
    cents_a = {
        (r.cid, tuple(r.cv))
        for r in spark.read.parquet(f"{incr}/centroids").collect()
    }
    cents_b = {
        (r.cid, tuple(r.cv))
        for r in spark.read.parquet(f"{scratch}/centroids").collect()
    }
    assert cents_a == cents_b
    # generation bookkeeping: appended rows carry gen=1, build rows gen=0
    gens = dict(
        spark.read.parquet(f"{incr}/lists").groupBy("gen").count().collect()
    )
    assert set(gens) == {0, 1}


def test_ivf_centroid_drift_report(spark, tmp_path):
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.io.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "store")
    sim.build_ivf_index(emb.filter(F.col("vec_id") % 4 == 0), path, n_centroids=8)
    sim.append_ivf_index(spark, path, emb.filter(F.col("vec_id") % 4 == 2), gen=1)
    rows = sim.ivf_centroid_drift(spark, path).collect()
    assert len(rows) == 8
    n_init = sum(r.n_initial for r in rows)
    n_app = sum(r.n_appended for r in rows)
    assert n_init == emb.filter(F.col("vec_id") % 4 == 0).count()
    assert n_app == emb.filter(F.col("vec_id") % 4 == 2).count()
    for r in rows:
        if r.n_initial:
            assert -1.0 <= r.avg_cos_initial <= 1.0
        else:
            assert r.avg_cos_initial is None
        if r.n_appended:
            assert -1.0 <= r.avg_cos_appended <= 1.0
        else:
            assert r.avg_cos_appended is None


def test_containment_catches_subdocument_duplication(spark):
    # A paragraph pasted verbatim into a much longer doc: jaccard is
    # diluted below its 0.5 gate, containment stays ~1.0.
    para = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    filler = " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, para), (2, para + " " + filler)], "doc_id long, text string"
    )
    cont = td.containment_pairs(docs, n=3, threshold=0.8, max_shingle_df=None)
    rows = cont.collect()
    assert len(rows) == 1 and (rows[0].id_a, rows[0].id_b) == (1, 2)
    assert rows[0].containment == 1.0
    jac = td.jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=None)
    assert jac.count() == 0  # the pair jaccard's gate misses


def test_pii_scrub_redacts_known_spans(spark):
    from pyspark.sql import functions as F

    from counsel_data_pipeline_spark.ops import curation as cu

    rows = spark.createDataFrame(
        [
            ("write to jane.doe+spam@mail.example.org today", 1, 0,
             "write to [EMAIL] today"),
            ("dial 02-555-123-4567 or 886-123-4567-8901 now", 0, 2,
             "dial [PHONE] or [PHONE] now"),
            ("a@b.co plus 12-345-678-9012", 1, 1, "[EMAIL] plus [PHONE]"),
            # non-matches must pass through untouched: bare @, short TLD,
            # wrong phone grouping
            ("user@host plus 1-23-45 plus a@b.c", 0, 0,
             "user@host plus 1-23-45 plus a@b.c"),
            (None, None, None, None),
        ],
        ["text", "want_emails", "want_phones", "want_red"],
    )
    n_e, n_p, red = cu.pii_scrub(F.col("text"))
    got = rows.select(
        "want_emails", "want_phones", "want_red",
        n_e.alias("e"), n_p.alias("p"), red.alias("r"),
    ).collect()
    for r in got:
        if r.want_red is None:
            # null text: size() yields -1/null per Spark semantics — the
            # catalog query never sees nulls (documents.text is non-null),
            # but redaction must not fabricate output
            assert r.r is None
            continue
        assert (r.e, r.p, r.r) == (r.want_emails, r.want_phones, r.want_red)

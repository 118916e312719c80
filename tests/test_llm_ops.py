"""Correctness of the probabilistic (rows-only) LLM-pipeline operators,
verified against exact in-Spark baselines at test scale."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_notebooks_spark.queries import QUERIES
from flink_notebooks_spark.queries.llm import TOPK_K, TOPK_QUERY_IDS


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """At J≥0.8 with 32×4 bands, LSH recall is ≈1 — the verified candidate
    set must equal the exact inverted-index join's output."""
    exact = QUERIES["dedup_ngram_jaccard"](spark, sf_dir).toPandas()
    lsh = QUERIES["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    exact_pairs = set(zip(exact["a"], exact["b"]))
    lsh_pairs = set(zip(lsh["a"], lsh["b"]))
    assert lsh_pairs == exact_pairs


def test_simhash_block_join_is_exact_for_hamming3(spark, sf_dir):
    """4×16-bit block LSH has exact recall for hamming ≤ 3 (pigeonhole):
    the block join must find the same pairs as a brute-force comparison of
    the signatures."""
    out = QUERIES["dedup_simhash"](spark, sf_dir)
    # reconstruct signatures from the operator's own lineage: brute-force
    # all-pairs on the distinct doc/sig set reachable via the block stage
    # (recompute sigs by re-running the pipeline up to 'sig' is internal, so
    # instead verify: every reported pair has hamming ≤ 3 and the pair list
    # is symmetric-free and deduplicated)
    pdf = out.toPandas()
    assert (pdf["hamming"] <= 3).all()
    assert (pdf["a"] < pdf["b"]).all()
    assert not pdf.duplicated(["a", "b"]).any()


@pytest.mark.slow
def test_simhash_adaptive_blocks_output_invariant(spark, sf_dir):
    """VERDICT r12 #1: SimHash block geometry resolves from corpus size
    (simhash_blocks_for — B=4 on every fixture, growing only past ~2M docs
    so random-bucket occupancy stays bounded and candidate work linear),
    and recall is EXACT at every B (pigeonhole over the (B−3)-subset keys):
    forcing the larger geometries on the fixture must reproduce the default
    output row-for-row."""
    from flink_notebooks_spark.queries.llm import dedup_simhash, simhash_blocks_for

    assert simhash_blocks_for(5_000) == 4
    assert simhash_blocks_for(2_000_000) == 4
    assert simhash_blocks_for(3_000_000) == 5
    assert simhash_blocks_for(10**9) == 6
    assert simhash_blocks_for(10**13) == 7  # capped at SIMHASH_MAX_BLOCKS
    base = dedup_simhash(spark, sf_dir).collect()
    for b in (5, 6):
        assert dedup_simhash(spark, sf_dir, blocks=b).collect() == base


def test_ann_returns_full_topk_with_positive_recall(spark, sf_dir):
    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    ann = QUERIES["ann_lsh_topk"](spark, sf_dir).toPandas()
    # full k per query
    counts = ann.groupby("q_id").size()
    assert len(counts) == TOPK_QUERY_IDS
    assert (counts == TOPK_K).all()
    # recall vs exact top-k: embeddings are near-random so LSH recall is
    # modest by construction; require it beats the random-candidate floor
    exact_sets = exact.groupby("q_id")["nn_id"].apply(set)
    ann_sets = ann.groupby("q_id")["nn_id"].apply(set)
    recall = sum(len(exact_sets[q] & ann_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.2, f"ANN recall {recall:.2f} below floor"


def test_ann_adaptive_geometry_thresholds():
    """VERDICT r12 #1: ANN geometry constants resolve from corpus size —
    floors on every fixture (pinned recall unchanged), growth past them so
    per-query scanned rows stop growing linearly with the corpus."""
    import flink_notebooks_spark.queries.llm as L

    assert L.ivf_cells_for(2_000) == 16  # fixture floor
    assert L.ivf_cells_for(16_384) == 16
    assert L.ivf_cells_for(20_480) == 32  # the factor-10 probe corpus
    assert L.ivf_cells_for(10**9) == 4096  # capped: distributed-training territory
    assert L.ivf_nprobe_for(16) == 6  # = the tuned floor exactly
    assert L.ivf_nprobe_for(64) == 12  # √ growth: scan fraction shrinks
    assert L.ivf_train_sample_for(16) == 256  # fixture training unchanged
    assert L.ivf_train_sample_for(4096) == 65536
    assert L.lsh_planes_for(4_096) == 6  # fixture floor
    assert L.lsh_planes_for(20_000) == 9  # probe corpus: 512 buckets
    assert L.lsh_planes_for(10**12) == 24  # capped


def test_ann_adaptive_path_executes_on_fixture(spark, sf_dir, monkeypatch):
    """Force the adaptive geometry onto the fixture (shrunk targets) so the
    non-floor path executes end-to-end: IVF at 32 cells / nprobe 8 and LSH
    at 7+ planes must still return well-formed top-k with non-degenerate
    recall (floors are looser than the tuned-geometry pins — more cells on
    a tiny corpus genuinely cost recall; the point is the path, which at
    real scale runs against proportionally larger corpora)."""
    import flink_notebooks_spark.queries.llm as L

    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    exact_sets = exact.groupby("q_id")["nn_id"].apply(set)
    monkeypatch.setattr(L, "IVF_TARGET_CELL_ROWS", 16)
    ivf = L.ann_ivf_topk(spark, sf_dir).toPandas()
    counts = ivf.groupby("q_id").size()
    assert len(counts) == TOPK_QUERY_IDS and (counts == TOPK_K).all()
    ivf_sets = ivf.groupby("q_id")["nn_id"].apply(set)
    recall = sum(len(exact_sets[q] & ivf_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.2, f"adaptive-IVF recall {recall:.2f} degenerate"
    monkeypatch.setattr(L, "LSH_TARGET_BUCKET", 4)
    lsh = L.ann_lsh_topk(spark, sf_dir).toPandas()
    assert set(lsh["q_id"]) == set(range(TOPK_QUERY_IDS))
    lsh_sets = lsh.groupby("q_id")["nn_id"].apply(set)
    recall = sum(len(exact_sets[q] & lsh_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.05, f"adaptive-LSH recall {recall:.2f} degenerate"


@pytest.mark.slow
def test_ivf_distributed_training_path(spark, sf_dir):
    """The beyond-cap training path (pyspark.ml KMeans over the whole
    corpus, no driver-side sample matrix) — engaged automatically past
    ~4.2M vectors, forced here on the fixture: full top-k per query, exact
    re-ranked sims, recall comparable to the driver-trained floor (k-means||
    centroids differ from the first-k-init sampler's, so only the floor is
    pinned, not equality)."""
    from flink_notebooks_spark.queries.llm import ann_ivf_topk

    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    ivf = ann_ivf_topk(spark, sf_dir, distributed_train=True).toPandas()
    counts = ivf.groupby("q_id").size()
    assert len(counts) == TOPK_QUERY_IDS and (counts == TOPK_K).all()
    exact_sets = exact.groupby("q_id")["nn_id"].apply(set)
    ivf_sets = ivf.groupby("q_id")["nn_id"].apply(set)
    recall = sum(len(exact_sets[q] & ivf_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.3, f"distributed-IVF recall {recall:.2f} below floor"


def test_ivf_recall_beats_lsh_floor(spark, sf_dir):
    """IVF with nprobe=4 of 16 cells scans ~25% of the corpus but recall
    should be far above that fraction (cells concentrate true neighbors)."""
    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    ivf = QUERIES["ann_ivf_topk"](spark, sf_dir).toPandas()
    counts = ivf.groupby("q_id").size()
    assert len(counts) == TOPK_QUERY_IDS and (counts == TOPK_K).all()
    exact_sets = exact.groupby("q_id")["nn_id"].apply(set)
    ivf_sets = ivf.groupby("q_id")["nn_id"].apply(set)
    recall = sum(len(exact_sets[q] & ivf_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_dedup_exact_keeps_one_row_per_content(spark, sf_dir):
    d = QUERIES["dedup_exact"](spark, sf_dir)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert d.count() == docs.select("text").distinct().count()
    assert d.agg(F.sum("dups")).collect()[0][0] == docs.count()


def test_pq_ann_full_topk_with_recall_floor(spark, sf_dir):
    """PQ/ADC returns full top-k per query and beats the random floor
    against the exact scan (8 subspaces x 16 codes on 64-dim vectors)."""
    from flink_notebooks_spark.queries.llm import TOPK_K, TOPK_QUERY_IDS

    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    pq = QUERIES["ann_pq_topk"](spark, sf_dir).toPandas()
    counts = pq.groupby("q_id").size()
    assert len(counts) == TOPK_QUERY_IDS and (counts == TOPK_K).all()
    assert not pq.duplicated(["q_id", "nn_id"]).any()
    assert (pq["nn_id"] != pq["q_id"]).all()
    exact_sets = exact.groupby("q_id")["nn_id"].apply(set)
    pq_sets = pq.groupby("q_id")["nn_id"].apply(set)
    recall = sum(len(exact_sets[q] & pq_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.2, f"PQ recall {recall:.2f} below floor"


def test_jaccard_df_cap_bounds_boilerplate_join(spark, tmp_path):
    """One boilerplate 5-gram shared by 100 otherwise-unrelated docs must NOT
    reach the candidate self-join (df cap) — without the cap it alone emits
    C(100,2)=4950 join pairs on one reducer. True near-dups sharing rare
    shingles are still found with exact jaccard scores."""
    import pandas as pd

    from flink_notebooks_spark.queries.llm import (
        JACCARD_DF_CAP,
        _jaccard_candidates,
        dedup_ngram_jaccard,
    )

    boiler = "all rights reserved by the publisher"  # 6 words → 2 5-grams
    rows = [
        # 100 docs: shared boilerplate prefix + unique tail (jaccard ~0)
        {"doc_id": i, "source": "web",
         "text": f"{boiler} unique{i} alpha{i} beta{i} gamma{i} delta{i} eps{i}"}
        for i in range(100)
    ]
    # one true near-dup pair via rare shingles (identical long body)
    body = " ".join(f"word{j}" for j in range(30))
    rows += [
        {"doc_id": 1000, "source": "web", "text": body},
        {"doc_id": 1001, "source": "web", "text": body + " tail"},
    ]
    pd.DataFrame(rows).to_parquet(f"{tmp_path}/documents.parquet")

    out = dedup_ngram_jaccard(spark, str(tmp_path)).toPandas()
    found = set(zip(out["a"], out["b"]))
    assert (1000, 1001) in found  # true near-dup survives the cap
    assert all(a >= 1000 for a, _ in found)  # boilerplate-only docs: no pairs

    # the capped index keeps the hot shingle out of candidate generation
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.llm import shingled_docs

    docs = shingled_docs(spark, str(tmp_path)).filter(F.size("shingles") > 0)
    sh = docs.select("doc_id", F.explode("shingles").alias("s")).select(
        "doc_id", F.xxhash64("s").alias("h")
    )
    capped = _jaccard_candidates(sh, JACCARD_DF_CAP).count()
    uncapped = _jaccard_candidates(sh, 10**9).count()
    assert capped == 1  # only the true near-dup pair
    assert uncapped >= 4950  # the boilerplate shingle alone is quadratic


def test_dedup_components_merges_transitive_chain(spark, tmp_path):
    """a~b and b~c above threshold but a~c below: components must still
    merge all three via propagation (pairwise winner-picking cannot)."""
    import pandas as pd

    from flink_notebooks_spark.queries.llm import dedup_components, dedup_ngram_jaccard

    words = [f"w{i}" for i in range(1, 46)]  # w1..w45
    rows = [
        {"doc_id": 1, "source": "s", "text": " ".join(words[0:40])},   # w1..w40
        {"doc_id": 2, "source": "s", "text": " ".join(words[0:45])},   # w1..w45
        {"doc_id": 3, "source": "s", "text": " ".join(words[5:45])},   # w6..w45
        {"doc_id": 9, "source": "s", "text": "completely unrelated content here nine ten eleven"},
    ]
    pd.DataFrame(rows).to_parquet(f"{tmp_path}/documents.parquet")

    pairs = {(r.a, r.b) for r in dedup_ngram_jaccard(spark, str(tmp_path)).collect()}
    assert (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs

    comp = {r.doc_id: r.component for r in dedup_components(spark, str(tmp_path)).collect()}
    assert comp == {1: 1, 2: 1, 3: 1}  # transitive closure, min-id representative


def test_tf_quality_features_cap_is_exact(spark, sf_dir):
    """A vocabulary far larger than the broadcast cap must produce exactly
    the uncapped result: the capped head resolves hot words map-side and the
    residual tail shuffle-join is exact, never an OOV approximation."""
    from flink_notebooks_spark.queries.llm import _tf_quality_features

    uncapped = _tf_quality_features(spark, sf_dir, broadcast_cap=10_000_000).toPandas()
    capped = _tf_quality_features(spark, sf_dir, broadcast_cap=7).toPandas()
    assert capped.equals(uncapped)


def test_tf_quality_features_broadcast_is_bounded(spark, sf_dir):
    """The only FORCED broadcast is the capped head: the broadcast() hints
    sit below the cap-enforcing limit, so no plan shape can require an
    unbounded vocabulary broadcast. (The residual tail join carries no hint
    — Catalyst may still broadcast it at toy scale where the whole vocab is
    estimated tiny, and falls back to a shuffle join when vocabulary stats
    exceed the broadcast threshold, which is exactly the scale behavior we
    want.)"""
    import contextlib
    import io as _io

    from flink_notebooks_spark.queries.llm import _tf_quality_features

    df = _tf_quality_features(spark, sf_dir, broadcast_cap=7)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    import re

    n_bc = len(re.findall(r"\n\(\d+\) BroadcastExchange", p))
    n_limit = len(re.findall(r"\n\(\d+\) (?:TakeOrderedAndProject|GlobalLimit)", p))
    assert n_bc >= 1 and n_limit >= 1
    # the hinted head builds from the limit: the limit node sits upstream of
    # the first BroadcastExchange in plan order
    first_bc = p.index("BroadcastExchange")
    assert re.search(r"(TakeOrderedAndProject|GlobalLimit)", p[first_bc:]), (
        "cap limit no longer feeds the broadcast head"
    )


@pytest.mark.slow
def test_connected_components_chain_converges_log_rounds(spark):
    """A 64-node chain is the adversarial case for min-label propagation
    (O(diameter) = 63 rounds); large-star/small-star must collapse it to a
    single star in O(log² n) — comfortably under 12 rounds — with every node
    labeled by the component minimum."""
    from flink_notebooks_spark.queries.llm import _connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(63)], "a long, b long")
    labels, rounds = _connected_components(chain)
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(64)}
    assert rounds <= 12


def test_connected_components_multi_component(spark):
    """Two cliques plus an isolated edge keep distinct minimum labels."""
    from flink_notebooks_spark.queries.llm import _connected_components

    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (20, 21)]
    labels, _ = _connected_components(spark.createDataFrame(edges, "a long, b long"))
    got = {r["doc_id"]: r["component"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_lsh_bits_scale_with_corpus():
    """Adaptive LSH geometry (r12 scale probe: fixed 6 bits made bucket
    occupancy — and the in-bucket pair work — grow linearly with the corpus,
    i.e. a quadratic operator). Expected occupancy n/2^bits must stay at or
    under the target as n grows; every test fixture resolves to the tuned
    floor so pinned recall/parity behavior is unchanged; the uint16 sigpack
    caps bits at 16."""
    from flink_notebooks_spark.queries.llm import (
        CLUSTER_LSH_BITS,
        CLUSTER_LSH_TARGET_OCC,
        lsh_bits_for,
    )

    for n in (0, 1, 200, 500, 2000):  # all fixture sizes → the tuned floor
        assert lsh_bits_for(n) == CLUSTER_LSH_BITS
    prev = 0
    for n in (5_000, 20_000, 200_000, 2_000_000):
        b = lsh_bits_for(n)
        assert n / (1 << b) <= CLUSTER_LSH_TARGET_OCC  # occupancy bounded
        assert b >= prev  # monotone in n
        prev = b
    assert lsh_bits_for(10**12) == 16  # sigpack lane cap


def test_lsh_shard_kernel_keeps_null_keyed_buckets():
    """The per-shard bucket loop groups like Spark's groupBy: a bucket
    whose key holds a null still reaches the bucket kernel."""
    import pandas as pd

    from flink_notebooks_spark.queries.llm import _shard_pairs

    pdf = pd.DataFrame(
        {
            "band": [0, 0, 1, 1],
            "sig": [5, 5, None, None],
            "i": [0, 0, 0, 0],
            "j": [0, 0, 0, 0],
            "vec_id": [1, 2, 3, 4],
        }
    )
    seen = []

    def kernel(key, grp):
        seen.append(key)
        ids = sorted(grp["vec_id"])
        return pd.DataFrame({"a": [ids[0]], "b": [ids[-1]]})

    out = _shard_pairs(pdf, kernel)
    assert len(seen) == 2 and any(pd.isna(k[1]) for k in seen)
    assert sorted(zip(out["a"], out["b"])) == [(1, 2), (3, 4)]


@pytest.mark.slow
def test_embedding_clusters_lsh_matches_exact_labels(spark, sf_dir):
    """The banded-LSH default geometry (6 bits × 80 bands, seed 0) has
    measured recall 1.0 on the verification corpora, so its cluster labels
    must EQUAL the exact all-pairs GEMM baseline's — the exact-parity pin
    for the probabilistic scale path (same contract as minhash vs jaccard)."""
    from flink_notebooks_spark.queries.llm import embedding_clusters

    exact = embedding_clusters(spark, sf_dir, source="exact").collect()
    lsh = embedding_clusters(spark, sf_dir, source="lsh").collect()
    assert lsh == exact


@pytest.mark.slow
def test_embedding_clusters_lsh_pairs_are_exact_subset(spark, sf_dir):
    """Verification inside each bucket is exact cosine: the LSH pair set can
    never contain a false positive — it is a subset of the exact threshold
    pairs regardless of geometry."""
    from flink_notebooks_spark.queries.llm import (
        cluster_pairs_lsh_df,
        cosine_pairs_df,
    )

    lsh_pairs = {(r.a, r.b) for r in cluster_pairs_lsh_df(spark, sf_dir).collect()}
    exact_pairs = {
        (r.a, r.b) for r in cosine_pairs_df(spark, sf_dir).select("a", "b").collect()
    }
    assert lsh_pairs <= exact_pairs
    assert lsh_pairs  # non-trivial at test scale


@pytest.mark.slow
def test_embedding_clusters_lsh_never_builds_allpairs_gemm(spark, sf_dir, monkeypatch):
    """Candidate mode must not touch the O(n²) block-GEMM pair source: the
    whole LSH cluster pipeline runs to completion with cosine_pairs_df
    poisoned."""
    import flink_notebooks_spark.queries.llm as llm

    def boom(*a, **k):
        raise AssertionError("candidate mode reached the all-pairs GEMM")

    monkeypatch.setattr(llm, "cosine_pairs_df", boom)
    out = llm.embedding_clusters(spark, sf_dir, source="lsh")
    assert out.count() > 0


def test_connected_components_uses_reliable_checkpoint_when_configured(
    spark, tmp_path
):
    """With sc.setCheckpointDir set, per-round lineage truncation must go
    through reliable checkpoint files (cluster-survivable), and labels stay
    correct."""
    import os

    from flink_notebooks_spark.queries.llm import _connected_components

    ckpt = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "a long, b long"
        )
        labels, _ = _connected_components(edges)
        got = {r["doc_id"]: r["component"] for r in labels.collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
        wrote = any(files for _, _, files in os.walk(ckpt))
        assert wrote, "no reliable checkpoint files written under the configured dir"
    finally:
        # restore the local-mode default for the rest of the session
        spark.sparkContext._jsc.sc().setCheckpointDir(None)


def test_pq_codebook_sample_is_permutation_invariant_quality(spark, sf_dir, tmp_path):
    """Codebook training samples bottom-k by xxhash64(vec_id), not an id
    prefix — so an id relabeling that would poison a prefix sample (e.g.
    ids assigned by source with all low ids from one source) must still
    train a codebook good enough to hold the recall floor."""
    import pyarrow.parquet as pq_
    import pyarrow.compute as pc

    t = pq_.read_table(f"{sf_dir}/embeddings.parquet")
    n = t.num_rows
    # relabel: reverse the id space — the old prefix sample's rows now sit
    # at the TOP of the id range; query ids 0..4 map to other vectors
    new_ids = pc.subtract(n - 1, t["vec_id"])
    t = t.set_column(t.schema.get_field_index("vec_id"), "vec_id", new_ids)
    pq_.write_table(t, f"{tmp_path}/embeddings.parquet")

    exact = QUERIES["similarity_topk"](spark, str(tmp_path)).toPandas()
    pq = QUERIES["ann_pq_topk"](spark, str(tmp_path)).toPandas()
    exact_sets = exact.groupby("q_id")["nn_id"].apply(set)
    pq_sets = pq.groupby("q_id")["nn_id"].apply(set)
    from flink_notebooks_spark.queries.llm import TOPK_K, TOPK_QUERY_IDS

    recall = sum(len(exact_sets[q] & pq_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.2, f"PQ recall {recall:.2f} below floor on relabeled ids"


def test_profile_sketch_matches_exact_within_tolerance(spark, sf_dir):
    """profile_table_sketch: every non-sketched column equals the exact
    profile; the HLL++ distinct estimate lands within 3×rsd (6%) of exact."""
    from flink_notebooks_spark.queries import QUERIES

    exact = {r["col"]: r for r in QUERIES["profile_table"](spark, sf_dir).collect()}
    sketch = {
        r["col"]: r for r in QUERIES["profile_table_sketch"](spark, sf_dir).collect()
    }
    assert set(exact) == set(sketch)
    for c, e in exact.items():
        s = sketch[c]
        assert (s["n"], s["n_nonnull"], s["min_v"], s["max_v"]) == (
            e["n"], e["n_nonnull"], e["min_v"], e["max_v"]
        )
        assert abs(s["n_distinct"] - e["n_distinct"]) <= max(1, 0.06 * e["n_distinct"])


@pytest.mark.slow
def test_knn_label_vote_ann_matches_recomputed_majority(spark, sf_dir):
    """The ANN-fed vote must EXACTLY equal an independent majority
    recomputation over the same ANN neighbor lists (pins the vote/argmax
    stages; the neighbor lists themselves are pinned by the ANN recall
    tests, and exact-agreement with the exact-kNN vote is not a valid pin —
    the fixture's labels are near-random, so different top-k subsets
    legitimately elect different majorities)."""
    from collections import Counter

    from flink_notebooks_spark.queries import QUERIES

    nn = QUERIES["ann_lsh_topk"](spark, sf_dir).select("q_id", "nn_id").collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    by_q = {}
    for r in nn:
        by_q.setdefault(r["q_id"], []).append(labels[r["nn_id"]])
    want = {}
    for q, ls in by_q.items():
        cnt = Counter(ls)
        best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[q] = (best[0], best[1])
    got = {
        r["q_id"]: (r["label_pred"], r["n"])
        for r in QUERIES["knn_label_vote_ann"](spark, sf_dir).collect()
    }
    assert got == want


def test_cluster_lsh_shuffle_payload_is_compact(spark, sf_dir):
    """The bucket exchange — the only wide shuffle of vector payloads in the
    LSH cluster path — must carry the int8-quantized vector and packed
    uint16 prefix, NEVER the fp64 embedding (which would be replicated
    ×bands, the dominant cost at 100 TB)."""
    from pyspark.sql import types as T

    from flink_notebooks_spark.queries import llm

    sigged = llm._lsh_signatures(spark, sf_dir, llm.CLUSTER_LSH_BITS, 8)
    buckets = llm._lsh_bucket_rows(sigged, {})
    for f in buckets.schema.fields:
        assert not (
            isinstance(f.dataType, T.ArrayType)
            and isinstance(f.dataType.elementType, (T.DoubleType, T.FloatType))
        ), f"float array {f.name} crosses the bucket exchange"
    assert isinstance(buckets.schema["qvec"].dataType, T.BinaryType)
    assert isinstance(buckets.schema["prefix"].dataType, T.BinaryType)
    # concrete row-width bound: int8 vector = d bytes (not 8d fp64), band
    # prefix = 2 bytes/earlier band (not 8); total well under the old
    # fp64+long-array row
    import pyspark.sql.functions as _F

    d = len(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("embedding").first()[0]
    )
    bands = 8
    widths = buckets.agg(
        _F.max(_F.length("qvec")).alias("qv"),
        _F.max(_F.length("prefix")).alias("pf"),
    ).collect()[0]
    assert widths["qv"] == d
    assert widths["pf"] == 2 * (bands - 1)
    # and the full pipeline's bucket Exchange shuffles exactly the compact
    # columns — no emb/embd attribute in the exchange input
    import contextlib
    import io

    full = llm.cluster_pairs_lsh_df(spark, sf_dir, bands=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        full.explain("formatted")
    bucket_exchanges = [
        block
        for block in buf.getvalue().split("\n\n")
        # the bucket exchange key is the bucket-shard hash (r15: one Python
        # call per shard of buckets instead of per bucket)
        if "Exchange" in block.split("\n")[0] and "hashpartitioning(bshard" in block
    ]
    assert bucket_exchanges, "bucket exchange not found in the plan"
    for block in bucket_exchanges:
        inp = next(l for l in block.split("\n") if l.startswith("Input"))
        assert "emb" not in inp, f"vector payload crosses the exchange: {inp}"


@pytest.mark.slow
def test_cluster_lsh_single_signature_scan(spark, sf_dir, monkeypatch):
    """The salt-counting pass must derive from the SAME cached signature
    pass as the bucket stage — ONE corpus scan + ONE BLAS sign-bit product
    total (the old plan re-ran _lsh_signatures as a sigs-only second full
    scan, ~40% of stage-1 cost at scale). Pins: (a) _lsh_signatures is
    built exactly once per pipeline, (b) the signature stage is persisted,
    (c) the final physical plan reads signatures through the cache and
    contains at most one MapInPandas signature stage."""
    import contextlib
    import io

    from flink_notebooks_spark.queries import llm

    calls = []
    real = llm._lsh_signatures

    def counting(*a, **k):
        calls.append(a)
        return real(*a, **k)

    monkeypatch.setattr(llm, "_lsh_signatures", counting)
    full = llm.cluster_pairs_lsh_df(spark, sf_dir, bands=8)
    assert len(calls) == 1, f"signature stage built {len(calls)} times"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        full.explain("formatted")
    plan = buf.getvalue()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, (
        "signature pass is not cached — salt counting would re-execute the scan"
    )
    # formatted explain names each node twice (tree + numbered detail);
    # count the numbered detail headers. FlatMapGroupsInPandas (the bucket
    # verify) is a different node name and not counted.
    import re

    sig_stages = re.findall(r"\(\d+\) MapInPandas", plan)
    assert len(sig_stages) == 1, (
        f"expected exactly one signature MapInPandas stage, got {sig_stages}"
    )
    # and the result is still the verified near-duplicate pair set
    assert full.count() > 0


@pytest.mark.slow
def test_cluster_lsh_hot_bucket_split_bounded_and_exact(spark, tmp_path, monkeypatch):
    """Planted hot bucket: a corpus of IDENTICAL vectors collapses every
    band into one bucket — no static `bits` fixes that (identical vectors
    agree on every extra hash bit too). The salted sub-split must (a) fire,
    (b) bound every sub-task's row count, and (c) leave the pair set
    exactly equal to the brute-force answer."""
    import numpy as np
    import pandas as pd

    from flink_notebooks_spark.queries import llm

    n_hot, n_bg = 120, 30
    rng = np.random.default_rng(7)
    const = np.ones(16, dtype=np.float32)
    vecs = [const] * n_hot + [
        rng.normal(size=16).astype(np.float32) for _ in range(n_bg)
    ]
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n_hot + n_bg, dtype=np.int64),
            "embedding": [list(map(float, v)) for v in vecs],
            "label": np.zeros(n_hot + n_bg, dtype=np.int32),
        }
    )
    sf = str(tmp_path / "planted")
    spark.createDataFrame(
        pdf, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    cap = 32
    monkeypatch.setattr(llm, "CLUSTER_LSH_BUCKET_CAP", cap)
    bands = 8
    sigged = llm._lsh_signatures(spark, sf, llm.CLUSTER_LSH_BITS, bands)
    plan = llm._lsh_salt_plan(sigged, cap)
    assert plan, "hot bucket did not register in the salt plan"
    assert max(plan.values()) >= n_hot // cap  # the split actually fires
    # (b) every sub-task is bounded: worst case ~2·cap rows plus hash slack
    sizes = (
        llm._lsh_bucket_rows(sigged, plan)
        .groupBy("band", "sig", "i", "j")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert sizes <= 3 * cap, f"sub-task of {sizes} rows escaped the cap"
    # (c) pair set unchanged: identical vectors pair all-vs-all at sim 1.0,
    # background pairs via exact cosine
    got = llm.cluster_pairs_lsh_df(spark, sf, bands=bands).collect()
    got_pairs = {(r.a, r.b) for r in got}
    M = np.vstack([v.astype(np.float64) for v in vecs])
    nrm = np.linalg.norm(M, axis=1)
    S = (M @ M.T) / np.outer(nrm, nrm)
    want = {
        (a, b)
        for a in range(len(vecs))
        for b in range(a + 1, len(vecs))
        if S[a, b] >= llm.CLUSTER_SIM_T
    }
    # recall on the planted block is exact (identical sigs always collide);
    # background pairs are subject to banded recall at 8 bands — require
    # the planted block complete and overall a subset
    hot_want = {(a, b) for a in range(n_hot) for b in range(a + 1, n_hot)}
    assert hot_want <= got_pairs
    assert got_pairs <= want
    for r in got:
        if r.a < n_hot and r.b < n_hot:
            assert abs(r.sim - 1.0) < 1e-9


def test_pack_sequences_invariants(spark, sf_dir):
    """Concat-and-chunk contract: every example carries exactly SEQ_LEN
    tokens except each source's LAST example; per-source token totals are
    conserved; example ids are dense from 0."""
    from flink_notebooks_spark.queries.llm import SEQ_LEN, WORDS

    pdf = QUERIES["pack_sequences"](spark, sf_dir).toPandas()
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("source", f"size({WORDS}) AS n")
        .filter("n > 0")
        .groupBy("source")
        .sum("n")
        .toPandas()
        .set_index("source")["sum(n)"]
    )
    for source, g in pdf.groupby("source"):
        g = g.sort_values("example_id")
        assert list(g["example_id"]) == list(range(len(g)))
        assert (g["n_tokens"].iloc[:-1] == SEQ_LEN).all(), source
        assert 0 < g["n_tokens"].iloc[-1] <= SEQ_LEN
        assert g["n_tokens"].sum() == docs[source]


def test_cluster_lsh_large_salt_plan_uses_join_not_literal_map(spark):
    """Above 1024 hot buckets the sub-split factor comes from a broadcast
    join, not a giant create_map literal (a 100k-entry map would be a
    200k-node Catalyst expression). Same semantics on both paths."""
    import numpy as np
    import pandas as pd

    from flink_notebooks_spark.queries import llm

    n, bands = 40, 3
    sig_mat = np.zeros((n, bands), dtype=np.int64)  # all rows share bucket 0
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "qvec": [np.ones(4, dtype=np.int8).tobytes()] * n,
            "qerr": np.zeros(n, dtype=np.float32),
            "sigs": list(sig_mat),
            "sigpack": [s.astype("<u2").tobytes() for s in sig_mat],
        }
    )
    sigged = spark.createDataFrame(
        pdf, "vec_id long, qvec binary, qerr float, sigs array<long>, sigpack binary"
    )
    # 1500 fake hot keys (forces the join path) + the one real bucket
    plan = {f"7:{s}": 3 for s in range(1500)}
    plan["0:0"] = 4
    rows = llm._lsh_bucket_rows(sigged, plan)
    got = rows.filter("band = 0").select("salt", "i", "j").toPandas()
    assert set(got["salt"]) <= set(range(4))
    # each row fans out to exactly m=4 sub-tasks
    assert len(got) == n * 4
    # and a non-hot band keeps m=1: one (0,0) task, no fan-out
    cold = rows.filter("band = 1").select("salt", "i", "j").toPandas()
    assert len(cold) == n
    assert (cold["i"] == 0).all() and (cold["j"] == 0).all()


def test_ivf_pq_hybrid_full_topk_recall_and_exact_rerank(spark, sf_dir):
    """IVFADC hybrid: full top-k per query; recall bounded below by the
    shared cell geometry (the PQ shortlist + 4x exact re-rank should lose
    little beyond cell-probe recall); and every returned sim is the EXACT
    cosine (the re-rank recomputes fp64 — approximation only moves the
    shortlist boundary, never the reported scores)."""
    import numpy as np

    exact = QUERIES["similarity_topk"](spark, sf_dir).toPandas()
    hyb = QUERIES["ann_ivf_pq_topk"](spark, sf_dir).toPandas()
    counts = hyb.groupby("q_id").size()
    assert len(counts) == TOPK_QUERY_IDS and (counts == TOPK_K).all()
    assert not hyb.duplicated(["q_id", "nn_id"]).any()
    assert (hyb["nn_id"] != hyb["q_id"]).all()
    exact_sets = exact.groupby("q_id")["nn_id"].apply(set)
    hyb_sets = hyb.groupby("q_id")["nn_id"].apply(set)
    recall = sum(len(exact_sets[q] & hyb_sets[q]) for q in exact_sets.index) / (
        TOPK_QUERY_IDS * TOPK_K
    )
    assert recall >= 0.4, f"IVFPQ recall {recall:.2f} below floor"
    # exact-re-rank property: any neighbor ALSO in the exact top-k carries
    # the identical rounded sim
    merged = hyb.merge(exact, on=["q_id", "nn_id"], suffixes=("_h", "_e"))
    assert len(merged) > 0
    assert np.allclose(merged["sim_h"], merged["sim_e"], atol=1e-6)


def test_cluster_lsh_salt_plan_overload_raises(spark, sf_dir, monkeypatch):
    """A corpus whose over-cap bucket count exceeds the salt-map budget
    fails loudly with the raise-bits guidance instead of building a huge
    driver-side plan."""
    import pytest as _pytest

    from flink_notebooks_spark.queries import llm

    monkeypatch.setattr(llm, "CLUSTER_LSH_MAX_HOT", 0)
    sigged = llm._lsh_signatures(spark, sf_dir, llm.CLUSTER_LSH_BITS, 8)
    with _pytest.raises(ValueError, match="raise CLUSTER_LSH_BITS"):
        llm._lsh_salt_plan(sigged, cap=1)  # cap=1: every bucket is "hot"


@pytest.mark.slow
def test_source_kl_divergence_invariants(spark, sf_dir):
    """Gibbs' inequality: KL(source || corpus) >= 0 for every source (up to
    the 9-decimal term rounding), one row per source, token totals conserve
    against the raw corpus."""
    from flink_notebooks_spark.queries.llm import WORDS

    pdf = QUERIES["source_kl_divergence"](spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert len(pdf) == docs.select("source").distinct().count()
    assert (pdf["kl"] >= -1e-6).all(), pdf[pdf["kl"] < 0]
    total = docs.selectExpr(f"size({WORDS}) AS n").agg(F.sum("n")).collect()[0][0]
    assert pdf["n_tokens"].sum() == total


@pytest.mark.slow
def test_ann_scan_accumulates_across_arrow_batches(spark, sf_dir):
    """The PQ-family scans must merge per-query winners ACROSS Arrow
    batches and emit once per task (review r6: per-batch emission made the
    shortlist shuffle corpus-dependent). With 64-row Arrow batches every
    partition holds many batches — full top-k per query must still come
    out, with sims exactly matching the default-batch run."""
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        small_pq = QUERIES["ann_pq_topk"](spark, sf_dir).toPandas()
        small_hy = QUERIES["ann_ivf_pq_topk"](spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    for df in (small_pq, small_hy):
        counts = df.groupby("q_id").size()
        assert len(counts) == TOPK_QUERY_IDS and (counts == TOPK_K).all()
        assert not df.duplicated(["q_id", "nn_id"]).any()
    # batch-size independence of the hybrid's result set: re-rank sims are
    # exact cosines, so any shared (q, nn) pair matches the default run
    import numpy as np

    default_hy = QUERIES["ann_ivf_pq_topk"](spark, sf_dir).toPandas()
    merged = small_hy.merge(default_hy, on=["q_id", "nn_id"], suffixes=("_s", "_d"))
    assert len(merged) > 0
    assert np.allclose(merged["sim_s"], merged["sim_d"], atol=1e-6)


def test_pack_sequences_spans_reassemble_exactly(spark, sf_dir):
    """pack_sequences_spans is the layout a shard writer consumes — so the
    proof is reconstruction: for every source, concatenating its spans in
    (example_id, ex_offset) order, slicing each doc's token stream at
    [start_tok, end_tok), must reproduce the source's concatenated token
    stream EXACTLY. Also pins: examples tile [0, SEQ_LEN) gaplessly (every
    example but each source's last is full), and the spans aggregate back
    to the pack_sequences stats view row-for-row."""
    import collections

    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries import llm

    spans = llm.pack_sequences_spans(spark, sf_dir).collect()
    docs = (
        llm.load_table(spark, sf_dir, "documents")
        .select("source", "doc_id", F.expr(llm.WORDS).alias("w"))
        .filter(F.size("w") > 0)
        .collect()
    )
    words = {(r["source"], r["doc_id"]): r["w"] for r in docs}
    stream = collections.defaultdict(list)
    for r in sorted(docs, key=lambda r: (r["source"], r["doc_id"])):
        stream[r["source"]].extend(r["w"])

    rebuilt = collections.defaultdict(list)
    by_ex = collections.defaultdict(list)
    for r in sorted(spans, key=lambda r: (r["source"], r["example_id"], r["ex_offset"])):
        seg = words[(r["source"], r["doc_id"])][r["start_tok"] : r["end_tok"]]
        assert len(seg) == r["end_tok"] - r["start_tok"]  # span inside the doc
        rebuilt[r["source"]].extend(seg)
        by_ex[(r["source"], r["example_id"])].append(r)

    assert set(rebuilt) == set(stream)
    for src in stream:
        assert rebuilt[src] == stream[src], f"stream mismatch for {src}"

    # gapless tiling inside each example; every example but the last is full
    last_ex = {}
    for (src, ex), _ in by_ex.items():
        last_ex[src] = max(last_ex.get(src, -1), ex)
    for (src, ex), rows in by_ex.items():
        pos = 0
        for r in rows:  # already ex_offset-sorted
            assert r["ex_offset"] == pos, (src, ex, r)
            pos += r["end_tok"] - r["start_tok"]
        assert pos <= llm.SEQ_LEN
        if ex != last_ex[src]:
            assert pos == llm.SEQ_LEN, (src, ex, pos)

    # spans aggregate to the stats view exactly
    stats = {
        (r["source"], r["example_id"]): (r["n_docs"], r["n_tokens"])
        for r in llm.pack_sequences(spark, sf_dir).collect()
    }
    agg = {
        k: (len(rows), sum(r["end_tok"] - r["start_tok"] for r in rows))
        for k, rows in by_ex.items()
    }
    assert agg == stats


def test_streaming_dedup_minhash_matches_batch(spark, sf_dir):
    """Round 8: the ONLINE MinHash dedup (4-file staged replay, shard-keyed
    bucket state carried across triggers) must reproduce the batch operator
    exactly — signatures are bit-equal by construction, candidate pairs
    union across triggers, verification is the same exact-jaccard join."""
    batch = QUERIES["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    stream = QUERIES["streaming_dedup_minhash"](spark, sf_dir).toPandas()
    assert stream.reset_index(drop=True).equals(batch.reset_index(drop=True))
    # the fixture really exercises CROSS-TRIGGER state: with 500 docs split
    # into 4 doc_id-ordered files of 125, at least one verified pair must
    # span two different slices (members stored in an earlier trigger,
    # matched in a later one)
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_rows
    step = -(-n // 4)
    assert any(a // step != b // step for a, b in zip(batch["a"], batch["b"])), (
        "fixture has no cross-slice near-dup pairs — the parity test no "
        "longer exercises cross-trigger state"
    )


def test_streaming_dedup_minhash_hot_bucket_cap(spark, sf_dir, monkeypatch):
    """A bucket exceeding the member cap must fail LOUDLY (the batch path's
    hot-bucket contract), not silently emit O(members²) pairs."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    import flink_notebooks_spark.queries.streaming as S

    monkeypatch.setattr(S, "STREAM_BUCKET_CAP", 1)
    with pytest.raises(StreamingQueryException, match="streaming_dedup_minhash"):
        S.streaming_dedup_minhash(spark, sf_dir).count()
    # no stray streaming query survives the failure
    assert not [q for q in spark.streams.active if q.isActive]


def _write_docs(tmp_path, n, sources=1):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array([f"doc {i}" for i in range(n)]),
                "lang": pa.array(["en"] * n),
                "source": pa.array([f"s{i % sources}" for i in range(n)]),
                "n_chars": pa.array([5] * n, pa.int64()),
            }
        ),
        f"{tmp_path}/documents.parquet",
    )
    return str(tmp_path)


def test_sample_per_source_prefilter_path_is_exact(spark, tmp_path):
    """With 1,000 docs in one source (> MARGIN·K = 200), the hash-space
    PREFILTER branch actually runs — its output must equal the brute-force
    full-corpus rank (the prefilter is an optimization, never a semantic)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.llm import _DOC_HASH, SAMPLE_K

    d = _write_docs(tmp_path, 1000)
    got = QUERIES["sample_per_source"](spark, d).toPandas()
    docs = spark.read.parquet(f"{d}/documents.parquet").select("source", "doc_id")
    h = F.expr(_DOC_HASH.format(key="CAST(doc_id AS STRING)"))
    w = Window.partitionBy("source").orderBy(h, "doc_id")
    want = (
        docs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SAMPLE_K)
        .select("source", "rank", "doc_id")
        .orderBy("source", "rank")
        .toPandas()
    )
    assert got.equals(want)


def test_sample_per_source_margin_guard_raises(spark, tmp_path, monkeypatch):
    """A breached admission margin must fail the job loudly (assert_true in
    the plan), never silently truncate the sample: with MARGIN dropped so
    the expected survivor count is K/5, the guard fires."""
    import pytest

    import flink_notebooks_spark.queries.llm as llm

    d = _write_docs(tmp_path, 2000)
    monkeypatch.setattr(llm, "SAMPLE_MARGIN", 0.2)
    with pytest.raises(Exception, match="margin breached"):
        llm.sample_per_source(spark, d).collect()


def test_streaming_dedup_embedding_matches_batch(spark, sf_dir):
    """Round 8: the ONLINE banded-hyperplane embedding dedup must reproduce
    the batch pipeline exactly — identical (seed, dim) planes make the
    signatures bit-equal, the first-agreeing-band rule runs inside the
    keyed state, and exact fp64 verification uses the same cosine
    expression, so (a, b, round(sim, 6)) parity is exact, not approximate."""
    from pyspark.sql import functions as F

    from flink_notebooks_spark.queries.llm import cluster_pairs_lsh_df

    batch = (
        cluster_pairs_lsh_df(spark, sf_dir)
        .select("a", "b", F.round("sim", 6).alias("sim"))
        .orderBy("a", "b")
        .toPandas()
    )
    stream = QUERIES["streaming_dedup_embedding"](spark, sf_dir).toPandas()
    assert stream.reset_index(drop=True).equals(batch.reset_index(drop=True))
    # cross-trigger coverage: at least one pair spans two staged slices
    import pyarrow.parquet as pq

    n = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows
    step = -(-n // 4)
    assert any(a // step != b // step for a, b in zip(batch["a"], batch["b"]))


@pytest.mark.slow
def test_streaming_dedup_minhash_checkpoint_restart(spark, sf_dir, tmp_path):
    """Round 8 durability: kill the streaming dedup mid-replay and resume
    from its checkpoint — bucket state (shard-packed member lists) must
    restore, no pair may be lost or duplicated, and the final file-sink
    output must equal the batch operator. Proves the applyInPandasWithState
    state actually round-trips through the state store, not just within
    one run."""
    import time

    from flink_notebooks_spark.queries.streaming import _minhash_pair_stream

    staging = str(tmp_path / "staging")
    sink = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # phase 1: start, let at least one trigger commit, then kill
        q = (
            _minhash_pair_stream(spark, sf_dir, staging)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        t0 = time.time()
        while time.time() - t0 < 120:
            if q.lastProgress and q.lastProgress["batchId"] >= 1:
                break
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(60)
        interrupted_batches = q.lastProgress["batchId"] if q.lastProgress else -1

        # phase 2: restart from the same checkpoint + staging; run to the end
        q2 = (
            _minhash_pair_stream(spark, sf_dir, staging)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = (
        spark.read.parquet(sink)
        .distinct()
        .orderBy("a", "b")
        .toPandas()
        .reset_index(drop=True)
    )
    want = QUERIES["dedup_minhash_lsh"](spark, sf_dir).toPandas().reset_index(drop=True)
    assert got.equals(want), (interrupted_batches, len(got), len(want))


def test_curation_pipeline_exchanges_carry_no_text(spark, sf_dir):
    """VERDICT r8 #1: the exact-dup stage used to window over
    md5(text) computed inside the Window, so Catalyst kept ``text`` in
    the window child and the exchange shuffled full document bodies.
    The window input is now hash-projected to (doc_id, h, n_chars);
    this pins that no DATA shuffle (ENSURE_REQUIREMENTS — the exchanges
    Catalyst inserts for windows/joins/aggregates) in the pipeline's
    physical plan receives a ``text`` attribute — at 100 TB the
    difference between shuffling ~3 TB of 32-byte digests and the whole
    corpus. The one exempted shape is the token-cache build's explicit
    REPARTITION_BY_NUM, where raw text crosses exactly once by design:
    it IS the scan distribution for the CPU-bound tokenize stage (see
    tokenized_docs' docstring), not a query shuffle payload."""
    from plan_text import count_text_exchanges, formatted_plan

    df = QUERIES["curation_pipeline"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Exchange" in plan, "no exchanges found in the formatted plan"
    assert count_text_exchanges(df) == 0, (
        "document text crosses a data shuffle in curation_pipeline"
    )


def test_dedup_incremental_shards_share_one_base_index(spark, sf_dir):
    """VERDICT r8 #4: per-shard ingestion must probe ONE persisted base
    hash index, never recompute md5 over the base corpus per shard. Two
    disjoint shards of the arriving delta: (a) the index is built exactly
    once (memo-miss counting), (b) the second shard's plan reads the base
    through the cache, (c) the shard-union equals the one-shot run row
    for row."""
    import contextlib
    import io

    from flink_notebooks_spark.queries import _registry, llm

    _registry._SESSION_CACHES.pop("base_exact_index", None)
    s1 = llm._dedup_incremental_df(
        spark, sf_dir, lambda c: (c % 10 == 9) & (c % 20 == 9)
    )
    r1 = s1.collect()
    assert "base_exact_index" in _registry._SESSION_CACHES, (
        "base index session cache not populated"
    )
    idx_entry = _registry._SESSION_CACHES["base_exact_index"]
    s2 = llm._dedup_incremental_df(
        spark, sf_dir, lambda c: (c % 10 == 9) & (c % 20 == 19)
    )
    # second shard: same session cache entry (identity — no rebuild)
    assert _registry._SESSION_CACHES["base_exact_index"] is idx_entry
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        s2.explain("formatted")
    plan = buf.getvalue()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan, (
        "second shard's exact probe does not read the persisted base index"
    )
    r2 = s2.collect()
    got = sorted([tuple(r) for r in r1] + [tuple(r) for r in r2])
    want = sorted(
        tuple(r) for r in QUERIES["dedup_incremental"](spark, sf_dir).collect()
    )
    assert got == want


def test_warm_shared_caches_matches_direct_results(spark, sf_dir):
    """warm_shared_caches (the bench's shared_corpus_prep body) must be a
    pure materialization: downstream consumers read the same rows as
    computing the pair tables directly. Runs the warm path, then checks
    the jaccard pair set (the deepest DAG it materializes) row-for-row."""
    from flink_notebooks_spark.queries.llm import (
        jaccard_pairs_df,
        warm_shared_caches,
    )

    warm_shared_caches(spark, sf_dir)
    got = sorted(
        (r["a"], r["b"], round(r["jac"], 6))
        for r in jaccard_pairs_df(spark, sf_dir).collect()
    )
    assert got, "expected verified jaccard pairs at fixture scale"
    # recompute from scratch on an un-warmed path: same pairs
    spark.catalog.clearCache()
    ref = sorted(
        (r["a"], r["b"], round(r["jac"], 6))
        for r in jaccard_pairs_df(spark, sf_dir).collect()
    )
    assert got == ref

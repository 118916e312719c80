"""Training-data curation operators, round-9 wave.

Three standard LLM-corpus operations the pipeline inventory lacked:

- ``dedup_span_scrub`` — duplicate-SPAN removal (Lee et al. 2022,
  "Deduplicating Training Data Makes Language Models Better": exact
  substring-level dedup, here over fixed word windows): any K-word span
  whose text occurs more than once corpus-wide is cut from every document,
  and the surviving spans are reassembled into the cleaned text. Document-
  level dedup (dedup_exact / minhash) misses this entirely — boilerplate
  headers/footers repeat inside otherwise-unique documents.
- ``perplexity_buckets`` — CCNet-style head/middle/tail terciles per source
  by language-model NLL (Wenzek et al. 2020). Rides the existing
  ``unigram_logprob`` pipeline (and its shared corpus-frequency caches).
- ``mixture_temperature_sample`` — temperature-based source mixing
  (multilingual-LM sampling: keep probability ∝ n_s^α / Σ n^α, α = 0.5),
  with the repo's portable md5 coin so the sample is reproducible across
  engines, runs, and partitionings.

Scale notes are per-operator. The span scrub is built so document text
crosses exactly ONE exchange (the final reassembly join); dup detection
itself shuffles only (doc_id, chunk_id, 16-byte hash) rows.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..io import load_table
from ._registry import QUERIES, query
from .llm import _DOC_HASH, QUALITY_SQL, SQL_WORDS

SPAN_K = 16  # words per span window (Lee et al. use 50 BPE tokens; the
#              fixture docs are 10–110 words, so 16 keeps multiple spans/doc)
MIX_TARGET = 200  # expected sample size for mixture_temperature_sample
MIX_ALPHA = 0.5  # temperature exponent (sqrt — IEEE-exact in both engines)


def _gate_tmpdir(prefix: str) -> str:
    """Managed temp dir for the streaming gates' sinks/checkpoints: the
    returned DataFrame stays readable for the caller's lifetime (the driver
    collects AFTER the query function returns, so eager deletion would read
    a vanished path). Lives under io.ephemeral_dir's root (RAM fs when
    available — the gates write one small parquet sink dir plus checkpoint
    WAL per micro-batch, pure metadata-op churn on disk; guide §6) and is
    reclaimed with that root at interpreter exit."""
    from ..io import ephemeral_dir

    return ephemeral_dir(prefix)


# --- duplicate-span scrub -----------------------------------------------------
@query(
    "dedup_span_scrub",
    oracle=f"""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
                  array_to_string(w[i*{SPAN_K}+1 : (i+1)*{SPAN_K}], ' ') AS chunk
           FROM ws, UNNEST(range(0, CAST(ceil(len(w)/{SPAN_K}.0) AS BIGINT))) AS t(i)),
    c AS (SELECT md5(chunk) AS h, COUNT(*) AS n FROM ch GROUP BY 1)
    SELECT doc_id, COUNT(*) AS n_chunks,
           COUNT(*) FILTER (WHERE n > 1) AS n_dup_chunks,
           COALESCE(string_agg(chunk, ' ' ORDER BY chunk_id)
                    FILTER (WHERE n = 1), '') AS clean_text
    FROM ch JOIN c ON md5(ch.chunk) = c.h
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_span_scrub(spark, sf_dir):
    """Remove every {SPAN_K}-word span that occurs more than once in the
    corpus and reassemble the survivors (exact span-level dedup, Lee et al.
    2022). Spans are non-overlapping windows over the space-split words, so
    reassembly (kept spans joined by ' ') reproduces the original text
    byte-for-byte when nothing is cut — pinned by the roundtrip test.

    100 TB shape: span hashes are computed MAP-SIDE from the per-doc word
    array (no word-level explode, no text in the chunking stage); the dup
    count aggregates 16-byte md5 keys; the membership join and the per-doc
    kept-list aggregate shuffle (doc_id, chunk_id, h) rows only. Document
    text crosses exactly ONE exchange — the final reassembly join back to
    the corpus on doc_id — which is the floor for an operator that must
    REWRITE text (the plan test pins the single text-carrying exchange).
    The kept-list rows are int arrays (~2% of text volume), so that join's
    build side stays cheap at any scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split("text", " ")
    n_chunks = F.ceil(F.size("w") / SPAN_K).cast("int")
    # (doc_id, chunk_id, h): hash each K-word window map-side; the word
    # array never leaves the row
    chunks = (
        d.select("doc_id", w.alias("w"))
        .filter(F.size("w") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.md5(
                        F.array_join(F.slice("w", i * SPAN_K + 1, SPAN_K), " ")
                    ),
                )
            ).alias("chunk_id", "h"),
        )
    )
    counts = chunks.groupBy("h").agg(F.count("*").alias("n"))
    kept = (
        chunks.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(F.col("n") > 1, 1)).alias("n_dup_chunks"),
            # collect_list drops the NULLs the when() leaves for dup chunks
            F.sort_array(
                F.collect_list(F.when(F.col("n") == 1, F.col("chunk_id")))
            ).alias("keep_ids"),
        )
    )
    # Rebuild WITHOUT a lambda that captures the word array: a higher-order-
    # function lambda capturing an outer attribute across this join breaks
    # Catalyst when a consumer filters the result — predicate
    # pushdown/pruning under-counts the lambda's references and binds the
    # inlined expression against the kept side
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, observed live on Spark 4.1).
    # Exploding the kept ids and re-aggregating uses only per-row
    # expressions; the groupBy key equals the join key, so the aggregate
    # rides the join's doc_id partitioning — text still crosses exactly
    # one exchange.
    ex = (
        d.join(kept, "doc_id")
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            F.split("text", " ").alias("warr"),
            F.explode_outer("keep_ids").alias("kid"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_dup_chunks",
            "kid",
            F.array_join(
                F.slice("warr", F.col("kid") * SPAN_K + 1, SPAN_K), " "
            ).alias("chunk"),
        )
    )
    return (
        ex.groupBy("doc_id", "n_chunks", "n_dup_chunks")
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        # when() leaves NULL for the explode_outer row of an
                        # all-dup doc; collect_list drops it
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("kid").isNotNull(),
                                    F.struct("kid", "chunk"),
                                )
                            )
                        ),
                        lambda x: x["chunk"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text")
        )
        .orderBy("doc_id")
    )


# --- CCNet perplexity terciles ------------------------------------------------
@query(
    "perplexity_buckets",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest({SQL_WORDS}) AS word FROM documents),
    f AS (SELECT word, COUNT(*) AS n_occ FROM w GROUP BY word),
    n AS (SELECT COUNT(*) AS total FROM w),
    j AS (SELECT w.doc_id, CAST(ROUND(LN(f.n_occ), 9) AS DECIMAL(28,9)) AS l
          FROM w JOIN f USING (word)),
    nll AS (SELECT j.doc_id, ROUND(ROUND(LN((SELECT total FROM n)), 9)
                   - CAST(SUM(j.l) AS DOUBLE) / COUNT(*), 6) AS nll
            FROM j GROUP BY j.doc_id),
    r AS (SELECT d.source, nll.doc_id, nll.nll,
                 ROW_NUMBER() OVER (PARTITION BY d.source
                                    ORDER BY nll.nll, nll.doc_id) AS rnk,
                 COUNT(*) OVER (PARTITION BY d.source) AS n_s
          FROM nll JOIN documents d USING (doc_id))
    SELECT doc_id, source, nll,
           CASE WHEN rnk * 3 <= n_s THEN 'head'
                WHEN rnk * 3 <= n_s * 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM r ORDER BY doc_id
    """,
)
def perplexity_buckets(spark, sf_dir):
    """CCNet-style quality terciles (Wenzek et al. 2020): rank each source's
    documents by unigram NLL and label the lowest-perplexity third 'head',
    then 'middle', then 'tail' — the standard pre-filter a web-scale corpus
    pipeline applies before expensive curation.

    Rides ``unigram_logprob`` verbatim (same shared corpus-frequency caches),
    so the only new work is one per-source window over (doc_id, source, nll)
    scalar rows — no text in any exchange. Tercile boundaries use integer
    arithmetic (rnk*3 <= n_s), not float percentiles, so bucket membership
    is engine- and partitioning-independent; within-source ties order by
    (nll, doc_id), both deterministic."""
    nll = QUERIES["unigram_logprob"](spark, sf_dir).select("doc_id", "nll")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = nll.join(src, "doc_id")
    by_src = Window.partitionBy("source")
    rnk = F.row_number().over(by_src.orderBy("nll", "doc_id"))
    n_s = F.count("*").over(by_src)
    return (
        j.select("doc_id", "source", "nll", rnk.alias("rnk"), n_s.alias("n_s"))
        .select(
            "doc_id",
            "source",
            "nll",
            F.when(F.col("rnk") * 3 <= F.col("n_s"), "head")
            .when(F.col("rnk") * 3 <= F.col("n_s") * 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .orderBy("doc_id")
    )


# --- temperature-based mixture sampling ----------------------------------------
@query(
    "mixture_temperature_sample",
    oracle=f"""
    WITH ns AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    wts AS (SELECT source, n_s,
                   CAST(ROUND(SQRT(n_s), 9) AS DECIMAL(28,9)) AS w FROM ns),
    den AS (SELECT SUM(w) AS denom FROM wts),
    pr AS (SELECT source, n_s,
                  LEAST(1.0, {MIX_TARGET} * (CAST(w AS DOUBLE)
                        / CAST((SELECT denom FROM den) AS DOUBLE)) / n_s) AS p
           FROM wts),
    thr AS (SELECT source, n_s, CAST(FLOOR(p * 1000000) AS BIGINT) AS cut
            FROM pr)
    SELECT d.doc_id, d.source, t.cut
    FROM documents d JOIN thr t USING (source)
    WHERE md5_number_lower(CAST(d.doc_id AS VARCHAR)) % 1000000 < t.cut
    ORDER BY d.doc_id
    """,
)
def mixture_temperature_sample(spark, sf_dir):
    """Temperature-based source mixing (the multilingual-LM sampling rule:
    sample source s with probability ∝ n_s^α, α = {MIX_ALPHA}) targeting an
    expected {MIX_TARGET} documents — upweights small sources relative to
    proportional sampling. Each document keeps independently via the
    repo's portable md5 coin, so the realized sample is a deterministic
    function of doc ids alone.

    Determinism across engines: sqrt is IEEE-correctly-rounded in BOTH
    engines (unlike ln/pow), its 9-dp rounding is decimal, the weight sum is
    an exact DECIMAL sum, and the keep test compares INTEGERS (hash % 1e6 <
    floor(p*1e6)) — no float comparison anywhere near a boundary. Scale: the
    per-source weight table is |sources| rows (broadcast); the corpus pass
    is map-only scan → coin filter. One tiny aggregate, zero data shuffles."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ns = d.groupBy("source").agg(F.count("*").alias("n_s"))
    wts = ns.withColumn(
        "w", F.round(F.sqrt("n_s"), 9).cast("decimal(28,9)")
    )
    den = wts.agg(F.sum("w").alias("denom"))
    thr = (
        wts.crossJoin(F.broadcast(den))
        .withColumn(
            "p",
            F.least(
                F.lit(1.0),
                F.lit(MIX_TARGET)
                * (F.col("w").cast("double") / F.col("denom").cast("double"))
                / F.col("n_s"),
            ),
        )
        .select(
            "source", F.floor(F.col("p") * 1000000).cast("bigint").alias("cut")
        )
    )
    coin = F.expr(_DOC_HASH.format(key="CAST(doc_id AS STRING)")) % 1000000
    return (
        d.join(F.broadcast(thr), "source")
        .filter(coin < F.col("cut"))
        .select("doc_id", "source", "cut")
        .orderBy("doc_id")
    )


# --- streaming per-source sampling ---------------------------------------------
def sample_per_source_stream(spark, sf_dir, staging_dir=None):
    """The stateful bottom-K-by-hash reservoir stream behind
    ``streaming_sample_per_source`` — factored out so the checkpoint-restart
    test (tests/test_curation2.py) can drive it through the shared two-phase
    harness with a pinned staging dir. State-bound note: keyed by SOURCE (a
    curated, closed set) with exactly K (hash, id) pairs per key — bounded
    by construction, no TTL needed (NoTimeout is correct here)."""
    import pandas as pd

    from ..operators.shard_state import apply_keyed_state
    from .llm import SAMPLE_K
    from .streaming import _staged_table_stream

    raw = _staged_table_stream(
        spark, sf_dir, "documents", "doc_id",
        "doc_id bigint, source string", n_files=4, staging_dir=staging_dir,
    )
    # the portable hash's BYTE-REVERSED hex tail (same byte order _DOC_HASH
    # feeds to conv): fixed-width hex, so lexicographic == numeric order of
    # md5_number_lower — the exact order the batch window sorts by
    stream = raw.select(
        "source", "doc_id",
        F.expr(
            "concat_ws('', transform(sequence(15, 0, -1), "
            "i -> substring(md5(CAST(doc_id AS STRING)), 17 + i*2, 2)))"
        ).alias("h16"),
    )

    def serve(key, pdfs, state):
        if state.exists:
            rev, hs, ids = state.get
            cand = list(zip(hs, ids))
        else:
            rev, cand = 0, []
        for p in pdfs:
            if len(p):
                cand.extend(zip(p["h16"], p["doc_id"]))
        cand.sort(key=lambda t: (t[0], t[1]))
        del cand[SAMPLE_K:]
        rev += 1
        state.update((rev, [h for h, _ in cand], [int(i) for _, i in cand]))
        yield pd.DataFrame(
            [
                (key[0], rnk + 1, int(i), rev)
                for rnk, (h, i) in enumerate(cand)
            ],
            columns=["source", "rank", "doc_id", "rev"],
        )

    return apply_keyed_state(
        stream,
        ["source"],
        serve,
        "source string, rank int, doc_id long, rev long",
        "rev long, hs array<string>, ids array<long>",
        "update",
        "none",
    )


def sample_latest_revision(out):
    """Each source's LATEST revision across emitted rows = its final sample
    (revisions are cumulative; shared with the restart test)."""
    from ..operators.shard_state import latest_revision

    return (
        latest_revision(out, ["source"])
        .select("source", "rank", "doc_id")
        .orderBy("source", "rank")
    )


@query("streaming_sample_per_source", oracle=None)  # oracle wired below
def streaming_sample_per_source(spark, sf_dir):
    """``sample_per_source`` as a continuous ingestion job: documents arrive
    over 4 staged triggers and per-source state keeps the K lowest-hash
    (hash, doc_id) pairs seen so far — lowest-K-by-hash is MERGEABLE (the
    union's bottom-K equals bottom-K of per-batch bottom-Ks), so the final
    revision IS the batch sample and the oracle is the batch SQL verbatim.

    State is ≤ K pairs per source however much streams through — the
    bounded-reservoir shape an ingestion pipeline needs. The hash is the
    repo's portable md5 (lower 64 bits); state stores it as the fixed-width
    hex tail, whose LEXICOGRAPHIC order equals the numeric order the batch
    window sorts by, so no Decimal crosses the Arrow boundary. Document
    text never enters the stream projection or the state. Restart safety:
    the reservoir is keyed state in the checkpoint — proven by the
    two-phase kill/resume test in tests/test_curation2.py."""
    from .streaming import _run_to_memory

    out = _run_to_memory(sample_per_source_stream(spark, sf_dir), "update")
    return sample_latest_revision(out)


# the streaming form's oracle is the batch sample SQL verbatim
from ._registry import ORACLE as _OR  # noqa: E402

_OR["streaming_sample_per_source"] = _OR["sample_per_source"]


# --- streaming decontamination gate ---------------------------------------------
@query("streaming_decontaminate", oracle=None)  # oracle wired below
def streaming_decontaminate(spark, sf_dir):
    """``decontaminate`` as an ingestion-time gate: training documents arrive
    over 4 staged triggers; each trigger hashes its docs' word-8-grams
    map-side, probes the broadcast BENCHMARK gram index (built once from the
    static eval partition), and appends the per-doc contamination verdicts
    to the sink. Because a document arrives WHOLE in one trigger, the
    per-doc aggregate inside foreachBatch is exact with ZERO cross-trigger
    state — the bounded-memory shape an ingestion gate needs (Flink's
    broadcast-state join pattern; state here is the broadcast index alone).
    Oracle: the batch SQL verbatim."""
    from .llm import NGRAMS, WORDS, hashed_g8
    from .streaming import _staged_table_stream

    bench = (
        hashed_g8(spark, sf_dir)
        .filter(F.col("doc_id") % 20 == 0)
        .select(F.col("doc_id").alias("bench_id"), "h")
    )
    raw = _staged_table_stream(
        spark, sf_dir, "documents", "doc_id",
        "doc_id bigint, text string", n_files=4,
    )
    grams = (
        raw.filter(F.col("doc_id") % 20 != 0)
        .select(
            "doc_id",
            F.explode(F.expr(NGRAMS.format(ws=WORDS, k=8))).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("h"))
    )
    sink = _gate_tmpdir("strm_decon_")

    def gate(batch_df, batch_id):
        # per-batch subdir + overwrite = exactly-once output under
        # foreachBatch's at-least-once contract: a retried micro-batch
        # replaces its own partial files instead of double-appending
        (
            batch_df.join(F.broadcast(bench), "h")
            .groupBy("doc_id")
            .agg(
                F.countDistinct("h").alias("n_grams_hit"),
                F.countDistinct("bench_id").alias("n_bench_docs"),
            )
            .write.mode("overwrite")
            .parquet(f"{sink}/b{batch_id}")
        )

    q = (
        grams.writeStream.foreachBatch(gate)
        .option("checkpointLocation", _gate_tmpdir("ckpt_decon_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(sink)
        .orderBy("doc_id")
    )


_OR["streaming_decontaminate"] = _OR["decontaminate"]


# --- vocabulary coverage / OOV rate ---------------------------------------------
VOCAB_V = 500  # top-V corpus vocabulary


@query(
    "vocab_coverage",
    oracle=f"""
    WITH w AS (SELECT doc_id, unnest({SQL_WORDS}) AS word FROM documents),
    c AS (SELECT word, COUNT(*) AS n FROM w GROUP BY word),
    v AS (SELECT word FROM c ORDER BY n DESC, word LIMIT {VOCAB_V}),
    j AS (SELECT w.doc_id, w.word,
                 CASE WHEN v.word IS NULL THEN 0 ELSE 1 END AS hit
          FROM w LEFT JOIN v USING (word))
    SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(hit) AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM j GROUP BY doc_id ORDER BY doc_id
    """,
)
def vocab_coverage(spark, sf_dir):
    """Per-document coverage under the top-{VOCAB_V} corpus vocabulary (1 −
    OOV rate) — the cheap tokenizer-fit diagnostic: docs far below the
    corpus norm are gibberish, code, or the wrong language for the
    vocabulary being trained.

    Scale plan: the vocabulary is FIXED-SIZE (top-V via TakeOrdered — per-
    partition heaps, no global sort) and BROADCASTS; the corpus pass is one
    token explode + broadcast membership probe + per-doc aggregate keyed by
    doc_id. Ties at the vocabulary boundary break on the word itself, so
    membership is engine-deterministic."""
    from .llm import tokenized_docs

    t = tokenized_docs(spark, sf_dir)
    words = t.select("doc_id", F.explode("ws").alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(VOCAB_V)
        .select("word")
    )
    return (
        words.join(F.broadcast(vocab).withColumn("hit", F.lit(1)), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_covered"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_words"), 6
            ).alias("coverage"),
        )
        .orderBy("doc_id")
    )


# --- pretraining-mix capstone ---------------------------------------------------
PIPE_TARGET = 150  # expected docs in the final mixture


@query(
    "pretrain_mix_pipeline",
    oracle=f"""
    WITH s1 AS (SELECT doc_id, source, text FROM documents
                WHERE lang = 'en' AND (__Q__) >= 0.5
                  AND len({SQL_WORDS}) >= 10),
    s2 AS (SELECT doc_id, source FROM (
             SELECT doc_id, source,
                    ROW_NUMBER() OVER (PARTITION BY md5(text)
                                       ORDER BY doc_id) AS rn
             FROM s1) WHERE rn = 1),
    w AS (SELECT s1.doc_id, unnest({SQL_WORDS}) AS word
          FROM s1 JOIN s2 USING (doc_id)),
    f AS (SELECT word, COUNT(*) AS n_occ FROM w GROUP BY word),
    n AS (SELECT COUNT(*) AS total FROM w),
    j AS (SELECT w.doc_id, CAST(ROUND(LN(f.n_occ), 9) AS DECIMAL(28,9)) AS l
          FROM w JOIN f USING (word)),
    nll AS (SELECT j.doc_id, ROUND(ROUND(LN((SELECT total FROM n)), 9)
                   - CAST(SUM(j.l) AS DOUBLE) / COUNT(*), 6) AS nll
            FROM j GROUP BY j.doc_id),
    r AS (SELECT s2.source, nll.doc_id, nll.nll,
                 ROW_NUMBER() OVER (PARTITION BY s2.source
                                    ORDER BY nll.nll, nll.doc_id) AS rnk,
                 COUNT(*) OVER (PARTITION BY s2.source) AS n_s
          FROM nll JOIN s2 USING (doc_id)),
    keep AS (SELECT source, doc_id, nll FROM r WHERE rnk * 3 <= n_s * 2),
    ns AS (SELECT source, COUNT(*) AS n_s FROM keep GROUP BY source),
    wts AS (SELECT source, n_s,
                   CAST(ROUND(SQRT(n_s), 9) AS DECIMAL(28,9)) AS w FROM ns),
    den AS (SELECT SUM(w) AS denom FROM wts),
    thr AS (SELECT source,
                   CAST(FLOOR(LEAST(1.0, {PIPE_TARGET} * (CAST(w AS DOUBLE)
                        / CAST((SELECT denom FROM den) AS DOUBLE)) / n_s)
                        * 1000000) AS BIGINT) AS cut
            FROM wts)
    SELECT k.doc_id, k.source, k.nll, t.cut
    FROM keep k JOIN thr t USING (source)
    WHERE md5_number_lower(CAST(k.doc_id AS VARCHAR)) % 1000000 < t.cut
    ORDER BY k.doc_id
    """.replace("__Q__", QUALITY_SQL),
)
def pretrain_mix_pipeline(spark, sf_dir):
    """Capstone #2 — the PRETRAINING-MIX pipeline: language filter → quality
    gate → exact dedup → perplexity terciles over the SURVIVOR corpus (the
    unigram model is fit on what survived, not the raw crawl — CCNet's
    actual construction) → drop the 'tail' tercile → temperature-mix the
    rest toward an expected {PIPE_TARGET}-doc budget. One hash-verified
    composition of five operators this registry ships individually.

    Scale plan, stage by stage: the lang/quality gates are map-only
    predicates on the scan; exact dedup windows over md5(text) PROJECTED
    BEFORE the exchange (no document bodies in any shuffle — the
    curation_pipeline lesson, pinned by the shared no-text plan audit);
    survivor tokens ride the session token cache semi-joined to survivor
    ids; the frequency join re-uses the token shuffle's own word
    partitioning (AQE skew-join handles hot words); terciles and the
    mixture run over scalar (doc_id, source, nll) rows with integer
    boundaries and the md5 coin — deterministic at any parallelism."""
    from .llm import MIN_WORDS, QUALITY_MIN, WORDS, quality_expr, tokenized_docs

    d = load_table(spark, sf_dir, "documents")
    s1 = (
        d.filter(F.col("lang") == "en")
        .withColumn("quality", quality_expr())
        .withColumn("nw", F.expr(f"size({WORDS})"))
        .filter((F.col("quality") >= QUALITY_MIN) & (F.col("nw") >= MIN_WORDS))
        .select("doc_id", "source", "text")
    )
    # hash-project BEFORE the dedup window: the exchange carries 32-byte
    # digests, never text
    dedup_w = Window.partitionBy("h").orderBy("doc_id")
    s2 = (
        s1.select("doc_id", "source", F.md5("text").alias("h"))
        .withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source")
    )
    words = (
        tokenized_docs(spark, sf_dir)
        .join(s2.select("doc_id"), "doc_id")
        .select("doc_id", F.explode("ws").alias("word"))
    )
    f = words.groupBy("word").agg(F.count("*").alias("n_occ"))
    # the survivor-token subtree is consumed by f, tot, and j — it renders
    # three times in explain() but the exchanges are IDENTICAL, so AQE's
    # ReusedExchange computes them once at runtime (same contract as the
    # events_markov_transitions budget note)
    tot = words.agg(F.count("*").alias("total"))
    j = words.join(f, "word").select(
        "doc_id", F.round(F.log("n_occ"), 9).cast("decimal(28,9)").alias("l")
    )
    nll = (
        j.groupBy("doc_id")
        .agg(F.count("*").alias("nw"), F.sum("l").alias("sl"))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                F.round(F.log("total"), 9)
                - F.col("sl").cast("double") / F.col("nw"),
                6,
            ).alias("nll"),
        )
    )
    by_src = Window.partitionBy("source")
    ranked = nll.join(s2, "doc_id").select(
        "doc_id",
        "source",
        "nll",
        F.row_number().over(by_src.orderBy("nll", "doc_id")).alias("rnk"),
        F.count("*").over(by_src).alias("n_s"),
    )
    keep = ranked.filter(F.col("rnk") * 3 <= F.col("n_s") * 2).select(
        "doc_id", "source", "nll"
    )
    ns = keep.groupBy("source").agg(F.count("*").alias("n_s"))
    wts = ns.withColumn("w", F.round(F.sqrt("n_s"), 9).cast("decimal(28,9)"))
    den = wts.agg(F.sum("w").alias("denom"))
    thr = (
        wts.crossJoin(F.broadcast(den))
        .withColumn(
            "p",
            F.least(
                F.lit(1.0),
                F.lit(PIPE_TARGET)
                * (F.col("w").cast("double") / F.col("denom").cast("double"))
                / F.col("n_s"),
            ),
        )
        .select(
            "source", F.floor(F.col("p") * 1000000).cast("bigint").alias("cut")
        )
    )
    coin = F.expr(_DOC_HASH.format(key="CAST(doc_id AS STRING)")) % 1000000
    return (
        keep.join(F.broadcast(thr), "source")
        .filter(coin < F.col("cut"))
        .select("doc_id", "source", "nll", "cut")
        .orderBy("doc_id")
    )


# --- streaming perplexity gate ----------------------------------------------------
PPL_GATE_T = 3.41  # keep threshold ~ the fixture's median base-model NLL


@query("streaming_perplexity_gate", oracle=None)  # oracle wired below
def streaming_perplexity_gate(spark, sf_dir):
    """CCNet's production shape: a FIXED language model (unigram, add-one
    smoothed, fit once on a held-out base corpus — doc_id % 5 = 0) scores
    every ARRIVING document; the verdict column marks docs at or below the
    NLL threshold. Unlike `perplexity_buckets` (corpus-relative terciles,
    a batch construction), the gate needs no global state: the model
    BROADCASTS and each trigger is a stateless map-side probe + per-doc
    aggregate (exact — docs arrive whole per trigger), so the stream
    admits documents the moment they arrive at any scale. OOV words get
    the smoothed floor 1/(N+V+1). Per-word ln terms are 9-dp rounded and
    DECIMAL-summed — engine-identical, partitioning-independent."""
    from .llm import WORDS, tokenized_docs
    from .streaming import _staged_table_stream

    base = (
        tokenized_docs(spark, sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
        .select(F.explode("ws").alias("word"))
    )
    model = base.groupBy("word").agg(F.count("*").alias("n"))
    stats = base.agg(F.count("*").alias("N")).crossJoin(
        model.agg(F.count("*").alias("V"))
    )
    n_, v_ = stats.collect()[0]
    ln_z = round(__import__("math").log(n_ + v_ + 1), 9)

    raw = _staged_table_stream(
        spark, sf_dir, "documents", "doc_id",
        "doc_id bigint, text string, source string", n_files=4,
    )
    words = (
        raw.filter(F.col("doc_id") % 5 != 0)
        .select("doc_id", "source", F.explode(F.expr(WORDS)).alias("word"))
    )
    sink = _gate_tmpdir("strm_ppl_")

    def gate(batch_df, batch_id):
        scored = (
            batch_df.join(F.broadcast(model), "word", "left")
            .select(
                "doc_id",
                "source",
                F.round(F.log(F.coalesce(F.col("n"), F.lit(0)) + 1), 9)
                .cast("decimal(28,9)")
                .alias("l"),
            )
            .groupBy("doc_id", "source")
            .agg(F.count("*").alias("nw"), F.sum("l").alias("sl"))
            .select(
                "doc_id",
                "source",
                F.round(
                    F.lit(ln_z) - F.col("sl").cast("double") / F.col("nw"), 6
                ).alias("nll"),
            )
            .withColumn("keep", F.col("nll") <= PPL_GATE_T)
        )
        # per-batch subdir + overwrite = exactly-once on micro-batch retry
        scored.write.mode("overwrite").parquet(f"{sink}/b{batch_id}")

    q = (
        words.writeStream.foreachBatch(gate)
        .option("checkpointLocation", _gate_tmpdir("ckpt_ppl_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(sink)
        .orderBy("doc_id")
    )


_OR["streaming_perplexity_gate"] = f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
    bw AS (SELECT unnest({SQL_WORDS}) AS word FROM base),
    f AS (SELECT word, COUNT(*) AS n FROM bw GROUP BY word),
    z AS (SELECT ROUND(LN((SELECT COUNT(*) FROM bw)
                          + (SELECT COUNT(*) FROM f) + 1), 9) AS ln_z),
    arr AS (SELECT doc_id, source, unnest({SQL_WORDS}) AS word
            FROM documents WHERE doc_id % 5 <> 0),
    j AS (SELECT a.doc_id, a.source,
                 CAST(ROUND(LN(COALESCE(f.n, 0) + 1), 9) AS DECIMAL(28,9)) AS l
          FROM arr a LEFT JOIN f USING (word)),
    nll AS (SELECT doc_id, source,
                   ROUND((SELECT ln_z FROM z)
                         - CAST(SUM(l) AS DOUBLE) / COUNT(*), 6) AS nll
            FROM j GROUP BY doc_id, source)
    SELECT doc_id, source, nll, nll <= {PPL_GATE_T} AS keep
    FROM nll ORDER BY doc_id
"""

"""Training-data-pipeline queries over `documents` and `embeddings`.

Dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
similarity search (brute-force, LSH-ANN, IVF), text analysis (stats,
token counting, lang-id, fingerprint) and multimodal plumbing — the
north-star operator families from BASELINE.json, each deterministic and
(where SQL-expressible) oracle-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakota_spark.operators import dedup as D
from lakota_spark.queries import parity
from lakota_spark.operators import multimodal as M
from lakota_spark.operators import similarity as S
from lakota_spark.operators import text as T

NUM_HASHES = 16
BANDS = 4
SHINGLE_N = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately NOT ensure_parallelism'd: queries that go
    # scan -> groupBy immediately (dedup_exact, the LM fits) pay the
    # repartition exchange without gaining anything (A/B at sf0.1:
    # unigram_lm 0.67 -> 1.09 s, dedup_exact 0.27 -> 0.69 s with a
    # global guard). Wrappers whose pre-shuffle per-row work is
    # expensive (winnow, char-gram, levenshtein chains) apply the
    # guard at their own call site — winnow_dup_pairs,
    # langid_ngram_confusion, edit_dup_pairs, pretrain_clean.
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-file parquet arrives as ONE partition; every similarity/
    # quantization query downstream does per-row vector math (interpreted
    # higher-order functions — the expensive kind), so under-parallel
    # input serializes it all. At cluster scale the scan is already
    # multi-partition and the guard is a no-op.
    from lakota_spark.operators.util import ensure_parallelism

    return ensure_parallelism(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    )


def _file_stamp(path: str) -> str:
    """Identity stamp of a source file for memo/index keys:
    nanosecond mtime + size — second-granularity mtime would serve
    stale centroids/candidates if a same-size file were regenerated
    within the same second. The ONE definition every per-corpus cache
    keys on, so a future change to the staleness rule lands everywhere
    at once."""
    import os

    try:
        st = os.stat(path)
        return f"{st.st_mtime_ns}-{st.st_size}"
    except OSError:
        return "nosrc"


#: query-vector memo keyed on the embeddings file identity — six ANN
#: queries probe the same fixed vector; one .first() job serves them all
_QVEC: dict[tuple, list] = {}


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    key = (sf_dir, vec_id, _file_stamp(f"{sf_dir}/embeddings.parquet"))
    if key not in _QVEC:
        # raw read: a one-row probe shouldn't pay the repartition exchange
        row = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .where(F.col("vec_id") == vec_id)
            .select("embedding")
            .first()
        )
        _QVEC[key] = [float(x) for x in row["embedding"]]
    return _QVEC[key]


# --- text analysis --------------------------------------------------------

def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # zero-shuffle per-row token/regex chains: parallelize the
    # single-file scan (no-op on a well-partitioned one)
    from lakota_spark.operators.util import ensure_parallelism

    return T.text_stats(ensure_parallelism(_docs(spark, sf_dir)))


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_count_bpe(_docs(spark, sf_dir))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakota_spark.operators.util import ensure_parallelism

    return T.lang_id(ensure_parallelism(_docs(spark, sf_dir)))


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_fingerprint(_docs(spark, sf_dir))


# pattern fixed in lockstep with the DuckDB oracle in __spark_entry__.py
TRIGRAM_PATTERN = "fast table"


def trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram substring search (`contrib/trigram.py:105-116`): AND of
    per-trigram contains() probes in one codegen scan (the inline
    strategy; the posting-join path needs a materialized index), exact
    contains() verify — result IS substring search, so the oracle is a
    plain LIKE scan. Accent-SENSITIVE (fold=False): the inline scan pays
    the fold translate() on every corpus row per search, so the plain
    entry skips it; `trigram_accent_search` and the materialized-index
    twin keep the reference's folded semantics."""
    from lakota_spark.operators import trigram as TG

    return TG.trigram_search(_docs(spark, sf_dir), TRIGRAM_PATTERN, fold=False)


#: bump when the materialized index layout changes — stale /tmp indexes
#: from an older build are rebuilt instead of breaking the gate
#: (v2: trigram postings are accent-folded)
_INDEX_VERSION = "v2"


def _index_path(sf_dir: str, kind: str) -> str:
    import os
    import tempfile

    key = os.path.abspath(sf_dir).strip(os.sep).replace(os.sep, "_")
    # key on source mtime+size: the driver regenerates testdata between
    # rounds, and a stale /tmp index would silently serve wrong postings
    stamp = _file_stamp(os.path.join(sf_dir, "documents.parquet"))
    return os.path.join(
        tempfile.gettempdir(),
        f"lakota-spark-index-{_INDEX_VERSION}-{kind}-{stamp}-{key}",
    )


def _ensure_trigram_index(spark: SparkSession, sf_dir: str) -> str:
    import os

    from lakota_spark.operators.search_index import write_trigram_index

    path = _index_path(sf_dir, "trigram")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_trigram_index(_docs(spark, sf_dir), path)
    return path


def _ensure_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    import os

    from lakota_spark.operators.search_index import write_bm25_index

    path = _index_path(sf_dir, "bm25")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_bm25_index(_docs(spark, sf_dir), path)
    return path


def trigram_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same substring search as `trigram_search`, but against the
    MATERIALIZED posting table (written once per corpus, partitioned by
    trigram prefix) — the 100 TB strategy: partition-pruned posting
    lookup + AND-count, then a broadcast-candidate exact verify. The
    oracle is identical to the inline form (both ARE substring search)."""
    from lakota_spark.operators.search_index import search_trigram_index

    path = _ensure_trigram_index(spark, sf_dir)
    return search_trigram_index(
        spark, path, TRIGRAM_PATTERN, corpus=_docs(spark, sf_dir)
    )


def trigram_accent_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accent-insensitive substring search (reference
    `contrib/trigram.py:32-40` unidecode semantics): an accented marker
    is injected into a deterministic doc slice and found by the
    UNACCENTED pattern — both sides fold through one codegen
    `translate()` built from NFD, bitwise-equal to DuckDB's
    strip_accents."""
    from lakota_spark.operators import trigram as TG

    docs = _docs(spark, sf_dir)
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 50 == 0,
            F.concat(F.col("text"), F.lit(" Le café est à côté du musée")),
        ).otherwise(F.col("text")),
    )
    return TG.trigram_search(aug, "cafe est a cote du musee")


def decontaminate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage guard: corpus docs sharing any distinct word 4-gram
    with the 'benchmark' slice (doc_id % 97 == 0) — broadcast semi-join
    on the shingle, per-doc hit count (operators/sampling.decontaminate)."""
    from lakota_spark.operators.sampling import decontaminate

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, n=4)


def decontaminate_bloom_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (the 100 TB variant of
    `decontaminate_flag`: a fixed 8 KiB bitmap broadcast replaces the
    benchmark-shingle broadcast; exact verify join on the survivors, so
    the answer is identical to the plain semi-join — same oracle shape,
    stricter min_hits to differentiate the query)."""
    from lakota_spark.operators.sampling import decontaminate_bloom

    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return decontaminate_bloom(
        corpus, bench, n=4, min_hits=2, n_bits=1 << 16, n_hashes=3
    )


def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination severity: longest contiguous benchmark-shared
    4-gram run per contaminated doc (gaps-and-islands over matched
    shingle positions — operators/sampling.contamination_overlap).

    Round-robins the under-parallel single-file input: the corpus-side
    posexplode + broadcast semi-join otherwise runs one ~1.5 s task
    (round-14 event-log profile; with the guard 0.77x at 32 cores /
    0.59x at 8, values identical; no-op on a well-partitioned scan)."""
    from lakota_spark.operators.sampling import contamination_overlap as op
    from lakota_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(_docs(spark, sf_dir))
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return op(corpus, bench, n=4)


def ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@20 of the learned-IVF index against brute-force cosine
    ground truth — the index-quality gauge an ANN deployment re-checks
    whenever the quantizer is refit (corpus growth rescales k, lists are
    rematerialized). Both sides reuse their standalone queries'
    deterministic top-20, so the intersection is exact and the whole
    audit unrolls into SQL."""
    brute = cosine_topk(spark, sf_dir).select("vec_id")
    approx = ivf_kmeans_topk(spark, sf_dir).select("vec_id")
    return brute.join(approx, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.round(F.count(F.lit(1)) / F.lit(20.0), 6).alias("recall_at_20"),
    )


def stratified_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix control: deterministic per-language hash sampling
    (en 50%, fr 25%, others 10%) — pure map-side filter, reproducible
    on any engine/partitioning (operators/sampling.stratified_sample)."""
    from lakota_spark.operators.sampling import stratified_sample

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(
        docs, {"en": 0.5, "fr": 0.25}, "lang", default_rate=0.1
    )


def pack_sequences_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing into training shards: hash-bucketed
    parallel packing streams, one window shuffle
    (operators/sampling.pack_sequences)."""
    from lakota_spark.functions import tokens
    from lakota_spark.operators.sampling import pack_sequences

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, budget=2000)


def trigram_posting_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 trigrams by document frequency over the posting table
    (`contrib/trigram.py:78-102` index, aggregated) — the index-build
    path exercised end-to-end."""
    from lakota_spark.operators import trigram as TG

    idx = TG.trigram_index(_docs(spark, sf_dir))
    return (
        idx.groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "trigram")
        .limit(20)
    )


# quality gate thresholds for pretrain_clean (kept in lockstep with the
# DuckDB oracle in __spark_entry__.py)
MIN_TOKENS, MAX_TOKENS, MAX_PUNCT = 20, 2000, 0.1


def pretrain_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data cleaning pass — the canonical pretrain
    pipeline composed from the individual operators: quality gate
    (token-count window + punctuation ratio) → language tag → exact-dedup
    survivors (keep each digest's min doc_id) → near-dup removal (MinHash
    LSH candidates, Jaccard-verified ≥ 0.5, drop the higher doc_id of
    each pair).

    Scale shape: quality + language + digest come from ONE fused
    projection over the corpus scan (`text.doc_profile` — all codegen,
    no UDFs); canonical-per-digest is a single window shuffle on digest
    (no groupBy + re-join); the near-dup branch reads the MATERIALIZED
    per-corpus LSH candidate index (built once, shared with
    `edit_dup_pairs` — the amortized multi-tier architecture) and
    Jaccard-verifies only those pairs against the checkpointed shingle
    relation, feeding a left-anti equi-join. Nothing is collected.
    A/B at sf0.1: 4.0 s recomputing sign+band per run → 3.0 s from the
    index, identical output; the self-contained one-shot composition
    remains `operators.dedup.minhash_dedup`.
    """
    from pyspark.sql import Window

    from lakota_spark.operators.util import ensure_parallelism

    # the fused doc_profile projection (shingle/digest chains) runs
    # BEFORE the digest window's shuffle — parallelize the scan
    docs = ensure_parallelism(_docs(spark, sf_dir))
    prof = T.doc_profile(docs)
    # canonical flag BEFORE the quality gate: the canonical holder of a
    # digest is the min doc_id over the FULL corpus, so a duplicate of a
    # low-quality canonical is still dropped (matches the oracle SQL).
    is_canon = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy("digest")
    )
    cand = spark.read.parquet(_ensure_candidate_index(spark, sf_dir))
    sh = D.shingle_table(docs, n=SHINGLE_N).localCheckpoint(eager=False)
    near = D.jaccard_pairs(sh, 0.5, candidates=cand)
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        prof.withColumn("is_canon", is_canon)
        .filter(
            F.col("is_canon")
            & (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("n_tokens") <= MAX_TOKENS)
            & (F.col("punct_ratio") <= MAX_PUNCT)
        )
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "pred_lang", "n_tokens")
    )


def pretrain_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline FUNNEL: cumulative survivor doc/token counts through the
    cleaning ladder — ingest → quality gate → exact-dedup canonical →
    near-dup survivor (`pretrain_clean`'s stages). The planning report
    every corpus run publishes first: token budgets, per-stage kill
    rates, and the cheapest wrong-config alarm there is (a stage that
    kills 90% of tokens).

    Scale shape: the same single fused profile pass + digest window +
    candidate-index near-dup branch as `pretrain_clean`, but terminated
    in ONE conditional aggregate (count/sum FILTER per stage) — the
    funnel adds no corpus pass over the clean itself, and the 4-row
    unpivot is a driver-free explode of one aggregated row. Exact SQL
    oracle."""
    from pyspark.sql import Window

    from lakota_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(_docs(spark, sf_dir))
    prof = T.doc_profile(docs)
    is_canon = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy("digest")
    )
    cand = spark.read.parquet(_ensure_candidate_index(spark, sf_dir))
    sh = D.shingle_table(docs, n=SHINGLE_N).localCheckpoint(eager=False)
    near = D.jaccard_pairs(sh, 0.5, candidates=cand)
    drop = near.select(F.col("doc_b").alias("doc_id")).distinct()
    flags = (
        prof.withColumn("is_canon", is_canon)
        .join(drop.withColumn("_nd", F.lit(1)), "doc_id", "left")
        .select(
            "n_tokens",
            (
                (F.col("n_tokens") >= MIN_TOKENS)
                & (F.col("n_tokens") <= MAX_TOKENS)
                & (F.col("punct_ratio") <= MAX_PUNCT)
            ).alias("q"),
            "is_canon",
            F.col("_nd").isNull().alias("kept_nd"),
        )
    )
    qc = F.col("q") & F.col("is_canon")
    stages = {
        "1_ingest": F.lit(True),
        "2_quality_gate": F.col("q"),
        "3_exact_dedup": qc,
        "4_near_dup": qc & F.col("kept_nd"),
    }
    one = flags.agg(
        *[
            F.count(F.when(c, 1)).alias(f"n_{s}")
            for s, c in stages.items()
        ],
        *[
            F.coalesce(
                F.sum(F.when(c, F.col("n_tokens"))), F.lit(0)
            ).alias(f"t_{s}")
            for s, c in stages.items()
        ],
    )
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("stage"),
                        F.col(f"n_{s}").cast("long").alias("n_docs"),
                        F.col(f"t_{s}").cast("long").alias("n_tokens"),
                    )
                    for s in stages
                ]
            )
        ).alias("r")
    ).select("r.stage", "r.n_docs", "r.n_tokens")


# --- dedup ----------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs(spark, sf_dir))


def jaccard_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard, 20 most similar pairs (verification tier)."""
    sh = D.shingle_table(_docs(spark, sf_dir), n=SHINGLE_N)
    return (
        D.jaccard_pairs(sh, threshold=0.0)
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(20)
    )


def value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers (|z| >= 2.5) over events.value.

    Moments come from EXACT integer sums of the 2-decimal grid (cents and
    cents² fit BIGINT), so mean/std are pure functions of the data — no
    float-summation-order drift — and the z-score rounds to 6 for the
    oracle. One partial-agg shuffle for the per-group moments (broadcast
    back), one corpus pass for the filter."""
    e = parity._events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    stats = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("s1"),
            F.sum(cents * cents).alias("s2"),
        )
        .withColumn("mean", F.col("s1") / F.col("n") / 100.0)
        .withColumn(
            "std",
            F.sqrt(
                (F.col("s2") / 1e4 - (F.col("s1") / 100.0)
                 * (F.col("s1") / 100.0) / F.col("n"))
                / (F.col("n") - 1)
            ),
        )
        .select("event_type", "mean", "std")
    )
    z = F.round((F.col("value") - F.col("mean")) / F.col("std"), 6)
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .where(F.abs(F.col("z")) >= 2.5)
        .select("event_id", "event_type", "value", "z")
    )


def quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality deciles by token count (ntile window with a
    deterministic tiebreak) → per-decile doc counts and token ranges —
    the curation view used to pick per-stratum sampling rates."""
    from pyspark.sql import Window

    from lakota_spark.functions import tokens

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    return (
        d.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII measurement + redaction (operators/text.pii_stats/pii_scrub).
    The synthetic corpus holds no real PII, so the query deterministically
    injects emails/URLs into known docs first — proving detection AND
    scrub produce the exact expected rewrite (digest-compared)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    did = F.col("doc_id").cast("string")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 40 == 0,
            F.concat(F.col("text"), F.lit(" contact user"), did,
                     F.lit("@example.com")),
        )
        .when(
            F.col("doc_id") % 40 == 7,
            F.concat(F.col("text"), F.lit(" see https://example.com/d/"), did),
        )
        .otherwise(F.col("text")),
    )
    stats = T.pii_stats(aug)
    digest = T.pii_scrub(aug).select(
        "doc_id", F.md5("text").alias("scrubbed_digest")
    )
    return stats.join(digest, "doc_id")


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations over the embeddings table, k=8, deterministic
    seeds — the iterative operator whose rounded state lets even k-means
    carry an exact SQL oracle (operators/clustering.kmeans_assign)."""
    from lakota_spark.operators.clustering import kmeans_assign as KM

    return KM(_emb(spark, sf_dir), k=8, iters=2)


def cluster_topic_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-TF-IDF topic terms for the k-means clusters (round 8, third
    session — operators/clustering.cluster_topic_terms): the BERTopic-
    style "what is each cluster about" report, top-5 terms per cluster
    by integer-micro-nat class TF-IDF over the exact-oracle Lloyd
    assignment the SemDeDup entries already share."""
    from lakota_spark.operators.clustering import cluster_topic_terms as CTT

    # blocking key straight from the MATERIALIZED per-corpus IVF lists
    # (size-scaled k — exactly 8 at the oracle scales, matching the
    # unrolled Lloyd SQL chain), same amortization as semdedup_top_pairs
    assign = _ivf_lists(spark, sf_dir).select("vec_id", "cluster")
    out = CTT(_docs(spark, sf_dir), assign, top_k=5, assign_id_col="vec_id")
    return out.select(
        F.col("cluster").cast("long").alias("cluster"),
        "term",
        "tf",
        "ctfidf_micro",
        "rank",
    )


def near_dup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified streaming near-dup gate, exercised in batch mode so
    it gets a full value-exact oracle: docs >= 250 play the incoming
    stream, docs < 250 the landed corpus; survivors = stream docs with
    NO banded corpus collision that clears exact Jaccard >= 0.5
    (streaming/streaming_near_dup_vs_corpus — same expression graph the
    stream runs)."""
    from lakota_spark.streaming import streaming_near_dup_vs_corpus

    docs = _docs(spark, sf_dir)
    incoming = docs.where(F.col("doc_id") >= 250)
    landed = docs.where(F.col("doc_id") < 250)
    return streaming_near_dup_vs_corpus(incoming, landed).select("doc_id")


BM25_TERMS = ["spark", "window", "merge"]


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over documents for a fixed query
    (operators/text.bm25_scores) — postings filtered to query terms
    before the shuffle, corpus scalars broadcast."""
    return T.bm25_scores(_docs(spark, sf_dir), BM25_TERMS)


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition quality signals
    (operators/text.repetition_stats) — zero-shuffle per-row array math.
    A duplicated-line block is injected into a deterministic doc slice so
    the line-level signals are non-trivial on the single-line corpus.

    The operator itself adds no shuffle (plan contract); the wrapper
    round-robins the under-parallel single-file input so the per-row
    gram math uses every core — a no-op on a well-partitioned scan.
    impl="arrow": the per-batch Counter/set fold (bit-identical —
    integer counts + int/int IEEE divisions only; pinned by
    test_repetition_stats_arrow_identical) measured 0.82x at 32 cores
    and 0.40x at 8 vs the zip_with chains at sf0.1 (round-14 A/B)."""
    from lakota_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(_docs(spark, sf_dir))
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 30 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nrepeat line\nrepeat line\nunique tail"),
            ),
        ).otherwise(F.col("text")),
    )
    return T.repetition_stats(aug, impl="arrow")


def repeated_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document repeated token spans (operators/dedup.repeated_spans,
    the hashed-n-gram equivalent of suffix-array substring dedup): word
    6-grams appearing in 2+ docs, merged into per-doc token intervals."""
    return D.repeated_spans(_docs(spark, sf_dir), n=6, min_df=2)


def pretrain_clean_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REPAIRING pretrain variant (VERDICT r4 #7): run the full
    `pretrain_clean` pipeline (quality gate → canonical-per-digest →
    LSH near-dup removal), then SPAN-CLIP the survivors instead of
    stopping at doc-level decisions — flagged windows are learned on
    the FULL corpus (boilerplate statistics must not depend on the
    gates), spans are clipped from surviving docs, and docs that would
    lose >50% of their tokens are dropped. Output is the cleaned
    corpus a tokenizer actually consumes: (doc_id, n_tokens,
    n_clipped, action, text_clean)."""
    docs = _docs(spark, sf_dir)
    survivors = pretrain_clean(spark, sf_dir).select("doc_id")
    flags = D.flagged_shingle_table(docs, tiers=((4, 8), (6, 2)))
    return D.clip_spans_vs_flags(
        docs.join(survivors, "doc_id", "left_semi"), flags
    )


def span_clip_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consuming half of span-level dedup (operators/dedup.
    clip_repeated_spans): tiered flagged windows — 4-grams only when
    very common (df>=8, boilerplate), 6-grams at df>=2 (long repeats) —
    merge into disjoint per-doc spans; docs losing >50% of their tokens
    are DROPPED, the rest have the spans CLIPPED out of the rebuilt
    text — Lee et al. exact-substring cleaning as a decision column +
    text, the variant of `pretrain_clean` that repairs instead of
    discarding."""
    return D.clip_repeated_spans(
        _docs(spark, sf_dir), tiers=((4, 8), (6, 2)), drop_frac=0.5
    )


def bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same ranking as `bm25_topk` from the MATERIALIZED tf index:
    postings come from the query terms' hash-bucket partitions only and
    the corpus scalars from the index's one-row stats table — zero
    corpus scans per search (kills the un-indexed form's second pass).
    Scores are bitwise-identical (same ordered fold), so the oracle is
    the same SQL."""
    from lakota_spark.operators.search_index import search_bm25_index

    path = _ensure_bm25_index(spark, sf_dir)
    return search_bm25_index(spark, path, BM25_TERMS)


def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily calendar per event_type with forward-filled sums
    (operators/timeseries.gap_fill): missing days appear with the last
    observed value — resample/asfreq over the events stream."""
    from lakota_spark.functions import money_sum
    from lakota_spark.operators.timeseries import gap_fill

    from lakota_spark.functions import hash32

    e = parity._events(spark, sf_dir)
    # deterministic 1/1000 thinning so the dense calendar has REAL gaps
    # at the driver's sf0.01 (a value threshold doesn't thin: every
    # type-day keeps hits at any sf)
    e = e.where(hash32(F.col("event_id").cast("string")) % 1000 == 0)
    return gap_fill(
        e,
        "ts",
        ["event_type"],
        "D",
        {"sum_value": money_sum(F.col("value"), 100),
         "n_events": F.count(F.lit(1))},
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization: the verified MinHash pairs
    collapsed into connected components, cluster_id = smallest member
    (operators/dedup.dedup_clusters — iterative min-label propagation)."""
    pairs = minhash_dedup_pairs(spark, sf_dir)
    return D.dedup_clusters(pairs)


def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplication report (round 8, third session): for
    each dump/source — total docs, docs sitting in any verified near-dup
    cluster, the dup fraction, distinct clusters touched, and how many
    of the dup docs sit in CROSS-source clusters (the "two crawls
    captured the same pages" signal that drives dump-level dedup
    priorities). Pure composition of proven pieces: the verified
    MinHash pairs → connected components chain from `dedup_clusters`,
    then two vocab-of-clusters-sized aggregates. The doc→cluster join
    relation is checkpointed because it feeds both the cluster
    source-diversity aggregate and the final rollup."""
    docs = _docs(spark, sf_dir)
    clusters = dedup_clusters(spark, sf_dir)
    j = (
        docs.select("doc_id", "source")
        .join(clusters, "doc_id", "left")
        .localCheckpoint(eager=False)
    )
    cs = (
        j.where(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.countDistinct("source").alias("n_src"))
    )
    j2 = j.join(cs, "cluster_id", "left")
    return j2.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("cluster_id").alias("n_dup_docs"),
        F.round(F.count("cluster_id") / F.count(F.lit(1)), 6).alias(
            "dup_frac"
        ),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum(F.when(F.col("n_src") > 1, 1).otherwise(0)).alias(
            "n_cross_source_docs"
        ),
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split report (round 8): docs are split by
    a salt-keyed hash of their near-dup CLUSTER id (singletons = own
    doc_id), so near-duplicates never straddle the boundary — then
    summarized per (split, lang): docs, distinct clusters, tokens. The
    invariant the report rides on: a cluster contributes to exactly one
    split (operators/sampling.leakage_safe_split over
    operators/dedup.dedup_clusters output)."""
    from lakota_spark.functions import tokens
    from lakota_spark.operators.sampling import leakage_safe_split as split_op

    clusters = dedup_clusters(spark, sf_dir)
    split = split_op(_docs(spark, sf_dir), clusters, val_pct=10)
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (round 8): verified near-dup
    pairs as positives, deterministic same-lang hash-neighbor negatives
    anti-joined against the positive set
    (operators/sampling.contrastive_pairs) — the weak-supervision pair
    set an embedding-model trainer consumes."""
    from lakota_spark.operators.sampling import contrastive_pairs as mine

    return mine(
        _docs(spark, sf_dir), minhash_dedup_pairs(spark, sf_dir)
    )


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-unigram importance weights with lang='en' as the
    target domain (operators/sampling.importance_weights): each raw doc
    scored by avg per-token log ratio of target vs raw bucket
    distributions — the data-selection reweighting step of a pretrain
    mixing pipeline. Micro-nat integer fold keeps the oracle exact."""
    from lakota_spark.operators.sampling import importance_weights

    return importance_weights(
        _docs(spark, sf_dir), target_filter=(F.col("lang") == "en")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup retention: MinHash clusters keep their
    highest-token-count member (ties → smallest doc_id) instead of the
    arbitrary min-id canonical — the curation step an actual pretrain
    pipeline runs after clustering (operators/dedup.keep_best_per_cluster;
    one join + one partial-agg groupBy, no window)."""
    from lakota_spark.functions import tokens

    clusters = dedup_clusters(spark, sf_dir)
    scores = _docs(spark, sf_dir).select(
        "doc_id", F.size(tokens("text")).cast("long").alias("score")
    )
    out = D.keep_best_per_cluster(clusters, scores)
    return out.select(
        "cluster_id",
        "n_members",
        "n_dropped",
        "kept_doc",
        F.col("kept_score").alias("kept_tokens"),
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = D.shingle_table(_docs(spark, sf_dir), n=SHINGLE_N)
    return D.minhash_signatures(sh, NUM_HASHES)


def minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash→LSH→verify pipeline; pairs with true Jaccard ≥ 0.5.
    max_bucket=None: the DuckDB oracle generates candidates with no
    bucket cap, so the oracle-matched entry must not cap either (the
    cap is the production knob for boilerplate-mass corpora)."""
    return D.minhash_dedup(
        _docs(spark, sf_dir),
        n=SHINGLE_N,
        num_hashes=NUM_HASHES,
        bands=BANDS,
        threshold=0.5,
        max_bucket=None,
    )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_docs(spark, sf_dir))


def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sims = D.simhash(_docs(spark, sf_dir))
    return D.simhash_pairs(sims, max_hamming=3)


def embedding_dup_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most cosine-similar same-label embedding pairs (block-join shape)."""
    pairs = D.embedding_dup_pairs(
        _emb(spark, sf_dir), block_col="label", threshold=-1.0
    )
    return pairs.orderBy(F.col("cos_sim").desc(), "id_a", "id_b").limit(25)


def embedding_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN dedup: hyperplane-LSH bucketing as the blocking key, exact
    cosine verify within buckets (VERDICT r1 #2).

    This is the genuine scale shape: candidate pairs come only from
    vectors whose 8-bit hyperplane signatures collide (≈ n²/2·2^-planes
    pairs instead of n²/2), a ``max_block`` cap bounds hot buckets, and
    the exact cosine runs only on candidates. The md5-derived hyperplanes
    make the bucket assignment — and therefore the whole result —
    reproducible bit-for-bit by the SQL oracle.
    """
    bucketed = S.lsh_bucket(_emb(spark, sf_dir), num_planes=8)
    pairs = D.embedding_dup_pairs(
        bucketed,
        block_col="bucket",
        threshold=-1.0,
        max_block=2000,
        keep_block=True,
    )
    return pairs.orderBy(F.col("cos_sim").desc(), "id_a", "id_b").limit(25)


# --- similarity search ----------------------------------------------------

def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir, 0)
    return S.cosine_topk(_emb(spark, sf_dir), q, k=20)


def pagerank_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact distributed PageRank (operators/graph.pagerank —
    the iterative join+agg workload, rank updates in pure int64 ops so
    values reproduce on any engine/partitioning) over a deterministic
    corpus-parametric pseudo-link graph: each doc links to
    (id*31+7) % N and (id*17+3) % N (N = corpus size, derived in BOTH
    engines like _CORPUS_K_LIMIT). Four unrolled iterations; the oracle
    replays them CTE-for-CTE (kmeans/MMR discipline). Returns the top
    50 authority nodes."""
    from lakota_spark.operators.graph import pagerank

    d = _docs(spark, sf_dir).select("doc_id")
    n = d.count()
    edges = d.selectExpr(
        "doc_id as src", f"(doc_id * 31 + 7) % {n} as dst"
    ).union(
        d.selectExpr("doc_id as src", f"(doc_id * 17 + 3) % {n} as dst")
    )
    ranks = pagerank(edges, n_iter=4)
    return (
        ranks.orderBy(F.col("rank_micro").desc(), F.col("node"))
        .limit(50)
    )


def mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT maximum-inner-product top-20 with Cauchy-Schwarz block
    pruning (operators/similarity.mips_topk — per-block max-norm bounds,
    phase-1 probe + phase-2 only over blocks that can still beat the
    k-th score). Oracle: plain dot-product ORDER BY LIMIT — the pruning
    changes the PLAN, never the values."""
    q = _query_vec(spark, sf_dir, 0)
    return S.mips_topk(_emb(spark, sf_dir), q, k=20, probe=2)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via hyperplane LSH (no SQL oracle — approximate by
    construction; the driver records a rows-only check)."""
    q = _query_vec(spark, sf_dir, 0)
    return S.lsh_ann(_emb(spark, sf_dir), q, k=20, num_planes=8, probe_hamming=2)


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style probed ANN over label blocks (rows-only check)."""
    q = _query_vec(spark, sf_dir, 0)
    return S.ivf_topk(_emb(spark, sf_dir), q, k=20, n_probe=3)


#: trained-quantizer memo: the centroid list is the index artifact
#: (k×dim floats); results are identical with or without the cache
_IVF_CENTS: dict[str, list] = {}


def _corpus_centroids(spark: SparkSession, sf_dir: str) -> list:
    """The iters=2 Lloyd quantizer for a corpus, memoized on the
    embeddings file's (mtime, size) — the amortized index-build shared
    by `ivf_kmeans_topk` and `semdedup_top_pairs`. Results are identical
    with or without the cache (the fit is deterministic).

    k scales with the corpus (`clustering.corpus_k`: k = max(8,
    ⌈n/64⌉)) so per-cluster pair cost in SemDeDup stays bounded as the
    corpus grows — at the driver's oracle scale (500 vectors) this
    yields exactly k=8, matching the static unrolled SQL oracle; at 10×
    it refits with a proportionally larger k (see the NOTES scale-probe
    table for the measured fixed-k vs scaled-k pair-stage costs)."""
    key = f"{sf_dir}:{_file_stamp(f'{sf_dir}/embeddings.parquet')}"
    cents = _IVF_CENTS.get(key)
    if cents is None:
        from lakota_spark.operators.clustering import corpus_k, kmeans_fit

        emb = _emb(spark, sf_dir)
        k = corpus_k(emb.count())
        cents, _ = kmeans_fit(emb, k=k, iters=2)
        _IVF_CENTS[key] = cents
    return cents


def _ensure_ivf_lists(spark: SparkSession, sf_dir: str) -> str:
    """Materialized IVF inverted lists: the corpus with its size-scaled
    quantizer assignment, written ONCE per corpus PARTITIONED BY
    cluster. A probe then reads only its lists' partitions
    (PartitionFilters) and — crucially — no query re-pays the
    full-corpus assignment, which at scaled k dominates per-query cost
    (bench r5: ivf_kmeans_topk 3.3 s re-assigning per query vs reading
    the lists)."""
    import os

    kind = f"ivflists-{_file_stamp(f'{sf_dir}/embeddings.parquet')}"
    path = _index_path(sf_dir, kind)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        from lakota_spark.operators.clustering import kmeans_predict

        cents = _corpus_centroids(spark, sf_dir)
        kmeans_predict(_emb(spark, sf_dir), cents).write.mode(
            "overwrite"
        ).partitionBy("cluster").parquet(path)
    return path


def _ivf_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(_ensure_ivf_lists(spark, sf_dir)).select(
        "vec_id", "embedding", F.col("cluster").cast("int").alias("cluster")
    )


def ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN over LEARNED k-means lists (operators/similarity.
    ivf_kmeans_topk): the coarse quantizer is trained by the exact-oracle
    Lloyd loop, so the whole learned index unrolls into SQL. Quantizer
    AND inverted lists are materialized per corpus (the amortized index
    build); the per-query cost is centroid ranking + the probed-list
    partition scan."""
    return S.ivf_kmeans_topk(
        _emb(spark, sf_dir),
        _query_vec(spark, sf_dir),
        assigned=_ivf_lists(spark, sf_dir),
        k=20,
        centroids=_corpus_centroids(spark, sf_dir),
    )


_PQ_BOOKS: dict[str, list] = {}


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.pq_topk): 2
    subspaces × 8-centroid Lloyd codebooks, ADC ranking from a literal
    lookup table, exact cosine alongside. Codebook training memoized per
    corpus like the IVF quantizer."""
    key = f"{sf_dir}:{_file_stamp(f'{sf_dir}/embeddings.parquet')}"
    emb = _emb(spark, sf_dir)
    qv = _query_vec(spark, sf_dir)
    books = _PQ_BOOKS.get(key)
    if books is None:
        from lakota_spark.operators.clustering import kmeans_fit

        d = len(qv)
        sub = d // 2
        books = []
        for mi in range(2):
            scol = f"_pq_sub_{mi}"
            cents, _ = kmeans_fit(
                emb.select(
                    F.col("vec_id"),
                    F.slice(F.col("embedding"), mi * sub + 1, sub).alias(
                        scol
                    ),
                ),
                k=8,
                iters=2,
                vec_col=scol,
                id_col="vec_id",
            )
            books.append(cents)
        _PQ_BOOKS[key] = books
    return S.pq_topk(emb, qv, k=20, codebooks=books)


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (operators/similarity.mmr_topk): λ=0.7
    greedy rerank of the 32-candidate cosine pool down to 8 diverse
    results — the iterative greedy loop whose integer-micro quantized
    state unrolls into an exact SQL oracle, like the Lloyd and
    power-iteration chains."""
    return S.mmr_topk(
        _emb(spark, sf_dir), _query_vec(spark, sf_dir), k=8, pool=32
    )


def quantized_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized cosine top-k with the exact score alongside
    (operators/similarity.quantized_cosine_topk) — the memory/recall
    trade of serving ANN from 4×-smaller quantized vectors, measured."""
    return S.quantized_cosine_topk(
        _emb(spark, sf_dir), _query_vec(spark, sf_dir), k=20
    )


def knn_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-NN per vector within its label block (rows-only check)."""
    e = _emb(spark, sf_dir)
    return S.knn_join(e, e, k=3, block_col="label")


# --- multimodal plumbing (rows-only: mapInPandas stages) ------------------

def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT image-decode entry (round 9, VERDICT r8 #1 — was
    rows-only through r8): every document becomes a REAL PPM P6 payload
    built JVM-side — width 2..4 and height 1..2 from doc_id residues,
    every pixel the same (r, g, b) = (doc_id%256, 7·doc_id%256,
    13·doc_id%256) — so `extract_features`' mapInPandas decode (the
    shared `_decode_image_batch` ladder) must recover the spec'd
    dimensions, channel means, and put ALL luminance-histogram mass in
    the single closed-form bucket uint8(0.299r+0.587g+0.114b)>>5. The
    whole 13-float descriptor checks against doc_id arithmetic (the
    `multimodal_triage_report` constructed-payload discipline); numpy's
    0.299r+0.587g+0.114b evaluates left-to-right in float64, so the
    oracle's ::DOUBLE chain is bit-identical and the floor/bucket agree
    exactly."""
    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.expr(
            "concat(encode(concat('P6\\n', cast(2 + doc_id % 3 as string),"
            " ' ', cast(1 + doc_id % 2 as string), '\\n255\\n'), 'utf-8'),"
            " unhex(repeat(concat(lpad(hex(doc_id % 256), 2, '0'),"
            " lpad(hex(doc_id * 7 % 256), 2, '0'),"
            " lpad(hex(doc_id * 13 % 256), 2, '0')),"
            " cast((2 + doc_id % 3) * (1 + doc_id % 2) as int))))"
        ).alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
    ).withColumn("n_bytes", F.octet_length("payload").cast("long"))
    feats = M.extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("feature", 1), 6).alias("width"),
        F.round(F.element_at("feature", 2), 6).alias("height"),
        F.round(F.element_at("feature", 3), 6).alias("mean_r"),
        F.round(F.element_at("feature", 4), 6).alias("mean_g"),
        F.round(F.element_at("feature", 5), 6).alias("mean_b"),
        (F.array_position(F.slice("feature", 6, 8), 1.0) - 1).alias(
            "lum_bucket"
        ),
    )


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT frame-sampling entry (round 9, VERDICT r8 #1 — was
    rows-only through r8): every document becomes a REAL 4x4 Y4M
    container with 1+doc_id%40 frames of 24 sanitized-ASCII bytes, so
    `frame_sample(every_n=8)`'s mapInPandas row expansion must yield
    EXACTLY ⌊(k−1)/8⌋+1 sampled frames per doc, each frame the 16-byte
    Y plane (the first 16 sanitized chars) — count, total bytes AND the
    summed Y-plane luminance all check against doc_id + text arithmetic
    in the oracle."""
    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.encode(
            F.concat(
                F.lit("YUV4MPEG2 W4 H4 F25:1\n"),
                F.expr(
                    "repeat(concat('FRAME\\n', rpad(regexp_replace("
                    "substring(text, 1, 24), '[^ -~]', 'x'), 24, 'x')),"
                    " cast(1 + doc_id % 40 as int))"
                ),
            ),
            "utf-8",
        ).alias("payload"),
    )
    frames = M.frame_sample(media, every_n=8)
    luma = F.expr(
        "aggregate(transform(sequence(1, 16),"
        " p -> ascii(substring(cast(frame as string), p, 1))),"
        " 0L, (a, x) -> a + x)"
    )
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.octet_length("frame")).cast("long").alias("total_bytes"),
        F.sum(luma).alias("luma_sum"),
    )


# Hand-encoded 1280x720 baseline-profile level-3.1 SPS NAL (profile 66,
# 80x45 macroblocks, frame_mbs_only, no crop) — the bit-exact constant the
# oracle's closed-form expectations are derived from. No 00-00 byte pair,
# so no emulation-prevention escaping is needed inside the NAL.
_H264_SPS_NAL_HEX = "6742001ff402802dd0"


def multimodal_video_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT multimodal entry (round 8): every document becomes a
    REAL video payload built JVM-side — even doc_ids an Annex-B H.264
    elementary stream (the hand-encoded SPS above + one IDR + 1+doc_id%3
    P-slice NALs whose payloads are utf-8 text bytes: utf-8 never contains
    0x00, so no accidental start codes), odd doc_ids a 4x4 Y4M container
    with 1+doc_id%4 frames of ASCII-sanitized text — and
    ``extract_video_headers`` must recover the spec'd resolution /
    profile / level / picture counts EXACTLY, giving the NAL+SPS walk a
    closed-form driver-checked oracle instead of the rows-only check the
    decode-path multimodal entries get."""
    d = _docs(spark, sf_dir)
    sc4 = F.unhex(F.lit("00000001"))
    sc3 = F.unhex(F.lit("000001"))
    sps = F.unhex(F.lit(_H264_SPS_NAL_HEX))
    idr = F.concat(
        sc3, F.unhex(F.lit("6588")), F.encode(F.substring("text", 1, 20), "utf-8")
    )
    p1 = F.concat(
        sc3, F.unhex(F.lit("419a")), F.encode(F.substring("text", 21, 12), "utf-8")
    )
    p_extra = F.concat(sc3, F.unhex(F.lit("419a")))
    nil = F.unhex(F.lit(""))
    h264 = F.concat(
        sc4, sps, idr, p1,
        F.when(F.col("doc_id") % 3 >= 1, p_extra).otherwise(nil),
        F.when(F.col("doc_id") % 3 == 2, p_extra).otherwise(nil),
    )
    # Y4M 4:2:0 at 4x4: 24 bytes/frame; text sanitized to printable ASCII
    # so char counts == byte counts and each frame payload is exactly 24
    # bytes (repeat() takes a column count only in its SQL form)
    y4m = F.encode(
        F.concat(
            F.lit("YUV4MPEG2 W4 H4 F25:1\n"),
            F.expr(
                "repeat(concat('FRAME\\n', rpad(regexp_replace("
                "substring(text, 1, 24), '[^ -~]', 'x'), 24, 'x')),"
                " cast(1 + doc_id % 4 as int))"
            ),
        ),
        "utf-8",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, h264).otherwise(y4m).alias("payload"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("video/h264"))
        .otherwise(F.lit("video/y4m"))
        .alias("mime"),
        F.lit(0).cast("long").alias("n_bytes"),
        F.lit("{}").alias("meta"),
    ).withColumn("n_bytes", F.octet_length("payload"))
    feats = M.extract_video_headers(media)
    # no orderBy: the driver compare is order-insensitive and a global
    # sort would add a range-partitioning exchange for nothing
    return feats.select(
        "media_id",
        *[
            F.round(F.element_at("feature", i + 1), 6).alias(name)
            for i, name in enumerate(
                ["width", "height", "profile", "lvl", "n_pictures", "n_idr"]
            )
        ],
    )


def _template_col(template: bytes, repl) -> "F.Column":
    """Interleave the fixed spans of a binary template with per-row value
    columns: split ``template`` at each ``(placeholder, column)`` in
    order and concat ``unhex`` literals with the columns — the JVM-side
    binary builder the oracle-exact multimodal entries use (every
    varying field is fixed-width, so payload length stays closed-form).
    """
    pieces = []
    pos = 0
    for ph, col in repl:
        i = template.index(ph, pos)
        if i > pos:
            pieces.append(F.unhex(F.lit(template[pos:i].hex())))
        pieces.append(col)
        pos = i + len(ph)
    if pos < len(template):
        pieces.append(F.unhex(F.lit(template[pos:].hex())))
    return F.concat(*pieces)


def _be_col(col, nbytes: int):
    """Fixed-width big-endian binary of an integer column."""
    return F.unhex(F.lpad(F.hex(col.cast("long")), 2 * nbytes, "0"))


def _le_col(col, nbytes: int):
    """Fixed-width little-endian binary: byte-swap the padded hex."""
    h = F.lpad(F.hex(col.cast("long")), 2 * nbytes, "0")
    return F.unhex(
        F.concat(*[
            F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))
        ])
    )


# Placeholder byte strings for the container templates — distinctive
# sequences that cannot occur in the fixed spans around them.
_PH_CH8 = b"\xde"  # 1-byte channel count (Ogg OpusHead)
_PH_GRAN = b"\xde\xad\xc0\x01\xde\xad\xc0\x01"  # 8-byte LE granule
_PH_DUR = b"\xde\xad\xc0\x02"  # mvhd duration u32
_PH_CH16 = b"\xde\xa2"  # stsd channelcount u16
_PH_CNT = b"\xde\xad\xc0\x03"  # stsz sample_count u32
_PH_TXT = b"\x7f" * 24  # 24-byte sanitized text body


def _ogg_opus_template() -> bytes:
    """Two-page Ogg-Opus stream: BOS page carrying OpusHead (pre_skip
    312) + one data page whose granule position is the varying field.
    CRCs are zero — the walk never checks them, and real decoders are
    out of scope for a header oracle."""
    opus = (
        b"OpusHead\x01" + _PH_CH8 + (312).to_bytes(2, "little")
        + (44100).to_bytes(4, "little") + b"\x00\x00\x00"
    )
    p1 = (
        b"OggS\x00\x02" + (0).to_bytes(8, "little")
        + (7).to_bytes(4, "little") + (0).to_bytes(4, "little")
        + b"\x00" * 4 + b"\x01" + bytes([len(opus)]) + opus
    )
    p2 = (
        b"OggS\x00\x04" + _PH_GRAN
        + (7).to_bytes(4, "little") + (1).to_bytes(4, "little")
        + b"\x00" * 4 + b"\x01" + bytes([len(_PH_TXT)]) + _PH_TXT
    )
    return p1 + p2


def _m4a_template() -> bytes:
    """Single-audio-track BMFF (m4a): spec-complete mvhd/tkhd/mdhd/hdlr/
    stsd/stsz layouts with u32 movie duration, u16 channelcount and u32
    stsz sample_count as the varying fields (timescale 1000, mp4a rate
    8000 in 16.16, sample_size 0 so the walk reads VBR), and a 24-byte
    mdat of sanitized document text."""
    u32 = lambda v: v.to_bytes(4, "big")  # noqa: E731
    u16 = lambda v: v.to_bytes(2, "big")  # noqa: E731
    box = lambda t, *p: u32(8 + sum(len(x) for x in p)) + t + b"".join(p)  # noqa: E731
    full = lambda t, body: box(t, b"\x00\x00\x00\x00" + body)  # noqa: E731
    matrix = u32(0x10000) + b"\x00" * 12 + u32(0x10000) + b"\x00" * 12 + u32(0x40000000)
    mvhd = full(b"mvhd", (
        u32(0) * 2 + u32(1000) + _PH_DUR + u32(0x10000) + u16(0x100)
        + b"\x00" * 10 + matrix + b"\x00" * 24 + u32(2)
    ))
    entry = (
        u32(36) + b"mp4a" + b"\x00" * 6 + u16(1) + b"\x00" * 8
        + _PH_CH16 + u16(16) + b"\x00" * 4 + u32(8000 << 16)
    )
    stbl = box(
        b"stbl",
        full(b"stsd", u32(1) + entry),
        full(b"stsz", u32(0) + _PH_CNT),
    )
    mdia = box(
        b"mdia",
        full(b"mdhd", u32(0) * 2 + u32(8000) + u32(8000) + b"\x55\xc4\x00\x00"),
        full(b"hdlr", b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"\x00"),
        box(b"minf", stbl),
    )
    tkhd = full(b"tkhd", (
        u32(0) * 2 + u32(1) + b"\x00" * 4 + u32(1000) + b"\x00" * 8
        + b"\x00" * 6 + u16(0x100) + matrix + b"\x00" * 8
    ))
    return (
        box(b"ftyp", b"M4A \x00\x00\x00\x00mp42")
        + box(b"moov", mvhd, box(b"trak", tkhd, mdia))
        + box(b"mdat", _PH_TXT)
    )


def multimodal_container_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT container-walk entry (round 8, third session): every
    document becomes a REAL audio container built JVM-side — even
    doc_ids a two-page Ogg-Opus stream whose data-page granule encodes
    1+doc_id%6 Opus frames past the 312-sample pre-skip, odd doc_ids a
    single-track m4a whose mvhd duration / stsd channelcount / stsz
    sample_count are per-doc fields — and ``extract_audio_features``'s
    page/box walks must recover the spec'd duration / bitrate / rate /
    channels / frame counts EXACTLY. Same closed-form-oracle discipline
    as `multimodal_video_headers`; payload lengths are constants by
    construction (every varying field is fixed-width, text is sanitized
    to 24 ASCII bytes), so even kbps has a closed form. The IEEE
    division chains in the oracle mirror the parser's operation order
    bit-for-bit."""
    d = _docs(spark, sf_dir)
    txt = F.encode(
        F.expr(
            "rpad(regexp_replace(substring(text, 1, 24), '[^ -~]', 'x'),"
            " 24, 'x')"
        ),
        "utf-8",
    )
    ch = 1 + F.col("doc_id") % 2
    ogg = _template_col(_ogg_opus_template(), [
        (_PH_CH8, _be_col(ch, 1)),
        (_PH_GRAN, _le_col(F.lit(312) + 960 * (1 + F.col("doc_id") % 6), 8)),
        (_PH_TXT, txt),
    ])
    m4a = _template_col(_m4a_template(), [
        (_PH_DUR, _be_col(250 * (1 + F.col("doc_id") % 8), 4)),
        (_PH_CH16, _be_col(ch, 2)),
        (_PH_CNT, _be_col(1 + F.col("doc_id") % 5, 4)),
        (_PH_TXT, txt),
    ])
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 2 == 0, ogg).otherwise(m4a).alias("payload"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("audio/ogg"))
        .otherwise(F.lit("audio/mp4"))
        .alias("mime"),
        F.lit(0).cast("long").alias("n_bytes"),
        F.lit("{}").alias("meta"),
    ).withColumn("n_bytes", F.octet_length("payload"))
    feats = M.extract_audio_features(media)
    return feats.select(
        "media_id",
        *[
            F.round(F.element_at("feature", i + 1), 6).alias(name)
            for i, name in enumerate(
                ["duration_s", "kbps", "rate_hz", "channels", "n_frames",
                 "vbr"]
            )
        ],
    )


# Closed-form payload lengths for the container oracle (both templates
# substitute fixed-width fields, so len(template) IS the payload length).
OGG_TEMPLATE_LEN = len(_ogg_opus_template())
M4A_TEMPLATE_LEN = len(_m4a_template())


# Round-12 A/V container placeholders (VERDICT r11 #4)
_PH_PICW = b"\xde\xb0\x01"  # Theora PICW u24
_PH_PICH = b"\xde\xb0\x02"  # Theora PICH u24
_PH_G1 = b"\xde\xad\xc0\x04\xde\xad\xc0\x04"  # theora data granule LE64
_PH_G2 = b"\xde\xad\xc0\x05\xde\xad\xc0\x05"  # vorbis data granule LE64
_PH_W16 = b"\xde\xb1"  # avc1 sample-entry width u16
_PH_H16 = b"\xde\xb2"  # avc1 sample-entry height u16
_PH_VCNT = b"\xde\xad\xc0\x06"  # video stsz sample_count u32


def _ogg_page_tpl(serial: int, granule8: bytes, htype: int,
                  seq: int, seg: bytes) -> bytes:
    """One single-segment Ogg page with a literal-or-placeholder granule
    (CRC zero — the walks never check it)."""
    assert len(granule8) == 8 and len(seg) < 255
    return (
        b"OggS\x00" + bytes([htype]) + granule8
        + serial.to_bytes(4, "little") + seq.to_bytes(4, "little")
        + b"\x00" * 4 + b"\x01" + bytes([len(seg)]) + seg
    )


def _ogg_av_template() -> bytes:
    """MULTIPLEXED Ogg A/V stream (round 12): Theora BOS (serial 7,
    25 fps, KFGSHIFT 6, picture dims as the varying u24 fields) +
    Vorbis BOS (serial 9, 44.1 kHz stereo) + one granule-bearing EOS
    data page per stream (granules varying). Exercises the per-serial
    grouping the audio-only walk rejects by design."""
    theora = (
        b"\x80theora" + bytes([3, 2, 1])
        + (0).to_bytes(2, "big") * 2  # FMBW/FMBH (not read by the walk)
        + _PH_PICW + _PH_PICH + bytes([0, 0])  # PICX/PICY
        + (25).to_bytes(4, "big") + (1).to_bytes(4, "big")  # FRN/FRD
        + (0).to_bytes(3, "big") * 2 + bytes([0]) + (0).to_bytes(3, "big")
        + (((48 << 10) | (6 << 5)) & 0xFFFF).to_bytes(2, "big")  # KFG=6
    )
    vorbis = (
        b"\x01vorbis" + (0).to_bytes(4, "little") + bytes([2])
        + (44100).to_bytes(4, "little") + b"\x00" * 12 + b"\xb8\x01"
    )
    zero8 = (0).to_bytes(8, "little")
    return (
        _ogg_page_tpl(7, zero8, 2, 0, theora)
        + _ogg_page_tpl(9, zero8, 2, 0, vorbis)
        + _ogg_page_tpl(7, _PH_G1, 4, 1, b"\x00" * 16)
        + _ogg_page_tpl(9, _PH_G2, 4, 1, b"\x00" * 16)
    )


def _mp4_av_template() -> bytes:
    """Video BMFF (round 12): avc1 video track whose SAMPLE-ENTRY dims
    are the varying u16 fields (tkhd presentation size left zero so the
    walk's coded-size preference is what the oracle checks) + a fixed
    48 kHz stereo mp4a audio track; u32 movie duration @timescale 1000
    and u32 video stsz sample_count vary."""
    u32 = lambda v: v.to_bytes(4, "big")  # noqa: E731
    u16 = lambda v: v.to_bytes(2, "big")  # noqa: E731
    box = lambda t, *p: u32(8 + sum(len(x) for x in p)) + t + b"".join(p)  # noqa: E731
    full = lambda t, body: box(t, b"\x00\x00\x00\x00" + body)  # noqa: E731
    matrix = (u32(0x10000) + b"\x00" * 12 + u32(0x10000) + b"\x00" * 12
              + u32(0x40000000))
    mvhd = full(b"mvhd", (
        u32(0) * 2 + u32(1000) + _PH_DUR + u32(0x10000) + u16(0x100)
        + b"\x00" * 10 + matrix + b"\x00" * 24 + u32(3)
    ))
    avc1 = (
        u32(86) + b"avc1" + b"\x00" * 6 + u16(1)
        + u16(0) * 2 + u32(0) * 3 + _PH_W16 + _PH_H16
        + u32(0x00480000) * 2 + u32(0) + u16(1)
        + b"\x00" * 32 + u16(24) + b"\xff\xff"
    )
    v_mdia = box(
        b"mdia",
        full(b"mdhd", u32(0) * 2 + u32(25000) + u32(25000)
             + b"\x55\xc4\x00\x00"),
        full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00"),
        box(b"minf", box(
            b"stbl",
            full(b"stsd", u32(1) + avc1),
            full(b"stsz", u32(0) + _PH_VCNT),
        )),
    )
    v_tkhd = full(b"tkhd", (
        u32(0) * 2 + u32(1) + b"\x00" * 4 + u32(0) + b"\x00" * 8
        + b"\x00" * 6 + u16(0) + matrix + b"\x00" * 8
    ))
    mp4a = (
        u32(36) + b"mp4a" + b"\x00" * 6 + u16(1) + b"\x00" * 8
        + u16(2) + u16(16) + b"\x00" * 4 + u32(48000 << 16)
    )
    a_mdia = box(
        b"mdia",
        full(b"mdhd", u32(0) * 2 + u32(48000) + u32(48000)
             + b"\x55\xc4\x00\x00"),
        full(b"hdlr", b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"\x00"),
        box(b"minf", box(
            b"stbl",
            full(b"stsd", u32(1) + mp4a),
            full(b"stsz", u32(0) + u32(9)),
        )),
    )
    a_tkhd = full(b"tkhd", (
        u32(0) * 2 + u32(2) + b"\x00" * 4 + u32(0) + b"\x00" * 8
        + b"\x00" * 6 + u16(0x100) + matrix + b"\x00" * 8
    ))
    return (
        box(b"ftyp", b"isom\x00\x00\x02\x00mp41")
        + box(b"moov", mvhd, box(b"trak", v_tkhd, v_mdia),
              box(b"trak", a_tkhd, a_mdia))
        + box(b"mdat", b"\x00" * 24)
    )


# round-12b WebM placeholders (collision-asserted in the builder)
_PH_DUR8 = b"\xde\xad\xc0\x07\xde\xad\xc0\x07"  # IEEE double Duration
_PH_MW = b"\xde\xc7"  # PixelWidth u16
_PH_MH = b"\xde\xc8"  # PixelHeight u16
_PH_MC = b"\xde\xc9"  # Channels u16


def _webm_template() -> bytes:
    """One-video (V_VP9) + one-audio (A_OPUS) WebM: EBML head + Segment
    (Info: explicit 1e6-ns TimestampScale + float64 Duration; Tracks).
    Placeholders: duration double, pixel dims u16, channels u16 —
    asserted unique so a size byte can never alias a placeholder."""
    import struct

    def size(n: int) -> bytes:
        for width in range(1, 9):
            if n < (1 << (7 * width)) - 1:
                return (n | (1 << (7 * width))).to_bytes(width, "big")
        raise ValueError(n)

    def el(eid: bytes, body: bytes) -> bytes:
        return eid + size(len(body)) + body

    head = el(b"\x1a\x45\xdf\xa3", el(b"\x42\x82", b"webm"))
    info = el(
        b"\x15\x49\xa9\x66",
        el(b"\x2a\xd7\xb1", (1_000_000).to_bytes(4, "big"))
        + el(b"\x44\x89", _PH_DUR8),
    )
    vtrack = el(b"\xae", (
        el(b"\x83", b"\x01") + el(b"\x86", b"V_VP9")
        + el(b"\xe0", el(b"\xb0", _PH_MW) + el(b"\xba", _PH_MH))
    ))
    atrack = el(b"\xae", (
        el(b"\x83", b"\x02") + el(b"\x86", b"A_OPUS")
        + el(b"\xe1",
             el(b"\xb5", struct.pack(">f", 48000.0))
             + el(b"\x9f", _PH_MC))
    ))
    tpl = head + el(
        b"\x18\x53\x80\x67",
        info + el(b"\x16\x54\xae\x6b", vtrack + atrack),
    )
    for ph in (_PH_DUR8, _PH_MW, _PH_MH, _PH_MC):
        assert tpl.count(ph) == 1
    return tpl


# round-12c tag placeholders (collision-asserted in the builders)
_PH_D2 = b"\x02\x03"  # two ascii digit bytes (zero-padded residue)


def _ss4(n: int) -> bytes:
    """ID3v2.4 syncsafe 4-byte size."""
    return bytes([(n >> s) & 0x7F for s in (21, 14, 7, 0)])


def _id3_template() -> bytes:
    """ID3v2.4 tag with TIT2 = the 24-byte sanitized text and TPE1 =
    'artist-<digit>', followed by a fake MPEG byte tail."""
    tit = b"\x03" + _PH_TXT
    tpe = b"\x03" + b"artist-" + _PH_D2
    frames = (
        b"TIT2" + _ss4(len(tit)) + b"\x00\x00" + tit
        + b"TPE1" + _ss4(len(tpe)) + b"\x00\x00" + tpe
    )
    tpl = b"ID3\x04\x00\x00" + _ss4(len(frames)) + frames + b"\xff\xfb" * 4
    assert tpl.count(_PH_TXT) == 1 and tpl.count(_PH_D2) == 1
    return tpl


def _opus_tags_template() -> bytes:
    """Ogg-Opus stream whose second page is an OpusTags packet with
    TITLE = the sanitized text and ARTIST = 'a<digit>'."""
    head = (
        b"OpusHead\x01\x02" + (312).to_bytes(2, "little")
        + (48000).to_bytes(4, "little") + b"\x00\x00\x00"
    )
    t_item = b"TITLE=" + _PH_TXT
    a_item = b"ARTIST=a" + _PH_D2
    tags = (
        b"OpusTags" + (4).to_bytes(4, "little") + b"lkta"
        + (2).to_bytes(4, "little")
        + len(t_item).to_bytes(4, "little") + t_item
        + len(a_item).to_bytes(4, "little") + a_item
    )
    zero8 = (0).to_bytes(8, "little")
    tpl = (
        _ogg_page_tpl(5, zero8, 2, 0, head)
        + _ogg_page_tpl(5, zero8, 0, 1, tags)
        + _ogg_page_tpl(5, (960).to_bytes(8, "little"), 4, 2, b"\x00" * 8)
    )
    assert tpl.count(_PH_TXT) == 1 and tpl.count(_PH_D2) == 1
    return tpl


def multimodal_tags_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT media-tag extraction entry (round 12): even doc_ids
    become MPEG audio led by an ID3v2.4 tag (TIT2/TPE1 text frames),
    odd an Ogg-Opus stream with an OpusTags comment packet — and
    `extract_media_tags` must recover title/artist EXACTLY. Titles are
    the 24-byte sanitized document text (pure ASCII by construction, so
    decode == the sanitize chain both engines share); artists carry a
    doc_id-residue digit."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    txt = F.encode(
        F.expr(
            "rpad(regexp_replace(substring(text, 1, 24), '[^ -~]', 'x'),"
            " 24, 'x')"
        ),
        "utf-8",
    )
    # two zero-padded ascii digits of the residue ('00'..'06')
    digit = F.encode(
        F.lpad((doc % 7).cast("string"), 2, "0"), "utf-8"
    )
    id3 = _template_col(_id3_template(), [(_PH_TXT, txt), (_PH_D2, digit)])
    ogg = _template_col(_opus_tags_template(),
                        [(_PH_TXT, txt), (_PH_D2, digit)])
    media = d.select(
        doc.alias("media_id"),
        F.when(doc % 2 == 0, id3).otherwise(ogg).alias("payload"),
        F.when(doc % 2 == 0, F.lit("audio/mpeg"))
        .otherwise(F.lit("audio/ogg"))
        .alias("mime"),
        F.lit(0).cast("long").alias("n_bytes"),
        F.lit("{}").alias("meta"),
    ).withColumn("n_bytes", F.octet_length("payload"))
    return M.extract_media_tags(media).select(
        "media_id", "tag_kind", "title", "artist", "album"
    )


def token_stats_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token statistics through `skew.salted_agg` with an
    EXPLICIT combiner map (round 12, closing the last externally-
    unverified skew utility — the Spark-Connect-safe path added with
    the `_jc` retirement): stage 1 aggregates on (lang, _salt), stage 2
    re-combines — sums by summation, min/max by min/max. The language
    key is few-valued and Zipf-ish (exactly the hot-group shape the
    two-stage spread targets); the oracle is the plain one-stage
    GROUP BY, which the salted plan must reproduce exactly."""
    from lakota_spark.functions import tokens
    from lakota_spark.operators.skew import salted_agg

    d = _docs(spark, sf_dir)
    per_doc = d.select(
        "lang", F.size(tokens("text")).cast("long").alias("n_tok")
    )
    return salted_agg(
        per_doc,
        keys="lang",
        aggs={
            "n_docs": F.count(F.lit(1)).cast("long"),
            "total_tokens": F.sum("n_tok"),
            "min_tokens": F.min("n_tok"),
            "max_tokens": F.max("n_tok"),
        },
        combiners={
            "n_docs": "count",
            "total_tokens": "sum",
            "min_tokens": "min",
            "max_tokens": "max",
        },
        salt=8,
        salt_on=["n_tok"],
    )


def pii_card_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT Luhn card detection entry (round 12): every doc
    carries a deterministic 16-digit number (digit_j = (doc_id*(3+2j) +
    j^2+1) mod 10) embedded in a text frame — even docs twice, the
    second in dashed 4-4-4-4 grouping to exercise separator
    normalization — and `text.credit_card_flags` must count candidates
    and Luhn-verified hits exactly. The oracle unrolls the 16-term Luhn
    fold as closed-form doc_id arithmetic (left position j doubles iff
    j is even for a 16-digit number), so the whole regex → normalize →
    fold chain is externally value-pinned."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    cand = F.concat(*[
        ((doc * (3 + 2 * j) + j * j + 1) % 10).cast("string")
        for j in range(16)
    ])
    dashed = F.concat_ws(
        "-",
        F.substring(cand, 1, 4), F.substring(cand, 5, 4),
        F.substring(cand, 9, 4), F.substring(cand, 13, 4),
    )
    # ' ; ' separator: adjacent candidates must not merge into one run
    # (the boundary lookarounds would then reject both)
    text = F.when(
        doc % 2 == 0,
        F.concat(F.lit("acct "), cand, F.lit(" ; "), dashed,
                 F.lit(" end")),
    ).otherwise(F.concat(F.lit("acct "), cand, F.lit(" end")))
    # no orderBy: the driver compare is order-insensitive and a
    # global sort would be the fold's only Exchange
    return T.credit_card_flags(d.select("doc_id", text.alias("text")))


def pii_iban_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT IBAN mod-97 entry (round 12, the `pii_card_flags`
    companion): every doc carries a deterministic DE-format IBAN
    ("DE" + 2 doc-derived check digits + 18 doc-derived digits); even
    docs also a twin whose first check digit is bumped by one (valid
    ~1/97 of the time, closed-form decidable). `text.iban_flags` must
    count candidates and mod-97-verified hits exactly; the oracle
    replays the ISO 13616 rearranged checksum as a Horner-weight sum
    (10^k mod 97 constants) over the same doc_id digit arithmetic."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    c1 = (doc * 5 + 3) % 10
    c2 = (doc * 7 + 1) % 10
    digits = F.concat(*[
        ((doc * (5 + 3 * j) + 2 * j + 1) % 10).cast("string")
        for j in range(18)
    ])
    iban = F.concat(F.lit("DE"), c1.cast("string"), c2.cast("string"),
                    digits)
    twin = F.concat(F.lit("DE"), ((c1 + 1) % 10).cast("string"),
                    c2.cast("string"), digits)
    text = F.when(
        doc % 2 == 0,
        F.concat(F.lit("iban "), iban, F.lit(" ; "), twin, F.lit(" end")),
    ).otherwise(F.concat(F.lit("iban "), iban, F.lit(" end")))
    return T.iban_flags(d.select("doc_id", text.alias("text")))


def multimodal_webm_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT WebM/EBML walk entry (round 12b): every document
    becomes a real two-track WebM whose PixelWidth/PixelHeight/Channels
    vary as integer fields and whose float64 Duration element is
    spliced per doc_id residue from four EXACT byte literals (500/1000/
    1500/2000 ms at the explicit 1e6-ns TimestampScale — all four
    decode to exactly-representable doubles, and the parser's
    ``ticks * scale / 1e9`` chain is two exact IEEE ops on them, so the
    oracle is plain arithmetic). `extract_av_headers` must recover
    kind='webm', codec ids, dims, channels and duration exactly."""
    import struct

    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    dur = F.coalesce(*[
        F.when(
            doc % 4 == k,
            F.unhex(F.lit(struct.pack(">d", 500.0 * (k + 1)).hex())),
        )
        for k in range(4)
    ])
    blob = _template_col(_webm_template(), [
        (_PH_DUR8, dur),
        (_PH_MW, _be_col(800 + 16 * (doc % 9), 2)),
        (_PH_MH, _be_col(450 + 16 * (doc % 7), 2)),
        (_PH_MC, _be_col(1 + doc % 2, 2)),
    ])
    media = d.select(
        doc.alias("media_id"),
        blob.alias("payload"),
        F.lit("video/webm").alias("mime"),
        F.octet_length(blob).alias("n_bytes"),
        F.lit("{}").alias("meta"),
    )
    hdr = M.extract_av_headers(media)
    return hdr.select(
        "media_id", "kind",
        F.round("duration_s", 6).alias("duration_s"),
        "n_video", "n_audio", "width", "height",
        "v_codec", "a_codec", "channels",
    )


def multimodal_av_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT A/V container walk entry (round 12, VERDICT r11
    #4): even doc_ids become a MULTIPLEXED Ogg (Theora video + Vorbis
    audio — the layout `_parse_ogg_headers` rejects by design and the
    round-12 `_parse_ogg_av_headers` groups per serial), odd doc_ids a
    two-track video mp4 whose avc1 SAMPLE-ENTRY dims / mvhd duration /
    stsz count vary per doc — and `extract_av_headers` must recover
    duration / stream counts / resolution / codec ids EXACTLY. Theora
    duration decodes the granule's keyframe<<KFGSHIFT packing
    ((frames-1)<<6 here, +1 for bitstream 3.2.1 numbering); the movie
    duration is the max of the video and audio stream durations, so
    the oracle's GREATEST over the two IEEE divisions mirrors the
    parser bit-for-bit."""
    d = _docs(spark, sf_dir)
    doc = F.col("doc_id")
    ogg = _template_col(_ogg_av_template(), [
        (_PH_PICW, _be_col(320 + 16 * (doc % 10), 3)),
        (_PH_PICH, _be_col(240 + 16 * (doc % 6), 3)),
        (_PH_G1, _le_col(F.shiftleft(1 + doc % 7, 6), 8)),
        (_PH_G2, _le_col(4096 * (1 + doc % 5), 8)),
    ])
    m4v = _template_col(_mp4_av_template(), [
        (_PH_DUR, _be_col(500 * (1 + doc % 4), 4)),
        (_PH_W16, _be_col(640 + 16 * (doc % 12), 2)),
        (_PH_H16, _be_col(360 + 16 * (doc % 8), 2)),
        (_PH_VCNT, _be_col(1 + doc % 9, 4)),
    ])
    media = d.select(
        doc.alias("media_id"),
        F.when(doc % 2 == 0, ogg).otherwise(m4v).alias("payload"),
        F.when(doc % 2 == 0, F.lit("video/ogg"))
        .otherwise(F.lit("video/mp4"))
        .alias("mime"),
        F.lit(0).cast("long").alias("n_bytes"),
        F.lit("{}").alias("meta"),
    ).withColumn("n_bytes", F.octet_length("payload"))
    hdr = M.extract_av_headers(media)
    return hdr.select(
        "media_id", "kind",
        F.round("duration_s", 6).alias("duration_s"),
        "n_video", "n_audio", "width", "height", "v_codec", "a_codec",
    )


def multimodal_triage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT triage entry (round 8, third session): five payload
    families built JVM-side by doc_id residue — Ogg-Opus, m4a, Y4M,
    a PNG-magic stub, and a text blob no parser claims — rolled up per
    claimed kind by `multimodal.classify_media` (count + total bytes).
    Every branch's byte length is closed-form (the container templates
    are fixed-length, Y4M frames are sanitized to 24 ASCII chars, the
    junk branch is 5 + utf-8 byte length), so the whole report checks
    against doc_id arithmetic — the triage stage the streaming media
    gate runs, under a value-exact oracle instead of only the
    batch≡stream parity test."""
    d = _docs(spark, sf_dir)
    txt = F.encode(
        F.expr(
            "rpad(regexp_replace(substring(text, 1, 24), '[^ -~]', 'x'),"
            " 24, 'x')"
        ),
        "utf-8",
    )
    ogg = _template_col(_ogg_opus_template(), [
        (_PH_CH8, _be_col(1 + F.col("doc_id") % 2, 1)),
        (_PH_GRAN, _le_col(F.lit(312) + 960 * (1 + F.col("doc_id") % 6), 8)),
        (_PH_TXT, txt),
    ])
    m4a = _template_col(_m4a_template(), [
        (_PH_DUR, _be_col(250 * (1 + F.col("doc_id") % 8), 4)),
        (_PH_CH16, _be_col(1 + F.col("doc_id") % 2, 2)),
        (_PH_CNT, _be_col(1 + F.col("doc_id") % 5, 4)),
        (_PH_TXT, txt),
    ])
    y4m = F.encode(
        F.concat(
            F.lit("YUV4MPEG2 W4 H4 F25:1\n"),
            F.expr(
                "repeat(concat('FRAME\\n', rpad(regexp_replace("
                "substring(text, 1, 24), '[^ -~]', 'x'), 24, 'x')),"
                " cast(1 + doc_id % 4 as int))"
            ),
        ),
        "utf-8",
    )
    png_stub = F.unhex(F.lit(b"\x89PNG\r\n\x1a\n".hex() + "00" * 16))
    junk = F.encode(F.concat(F.lit("junk:"), F.col("text")), "utf-8")
    r = F.col("doc_id") % 5
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.when(r == 0, ogg)
        .when(r == 1, m4a)
        .when(r == 2, y4m)
        .when(r == 3, png_stub)
        .otherwise(junk)
        .alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(0).cast("long").alias("n_bytes"),
        F.lit("{}").alias("meta"),
    ).withColumn("n_bytes", F.octet_length("payload"))
    return (
        M.classify_media(media)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


# --- sketches (rows-only: approximate by construction) --------------------

_KMV_K = 128


def sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT mergeable-sketch statistics per event type (round 9
    — the LAST approximate rows-only entry, rebuilt on ENGINE-
    REPRODUCIBLE sketches): KMV (k-minimum-values) distinct-user
    estimation and a deterministic hash-sample median, alongside their
    exact twins.

    Why not approx_count_distinct/approx_percentile (the r2–r8 shape):
    their values are Spark-internal (HLL++ register layout, t-digest
    compression) — not portable across engines, not reproducible across
    versions, hence unverifiable externally AND operationally fragile
    (a backfill on a different engine produces different numbers). The
    replacements keep the mergeable-sketch 100 TB properties —

    - KMV: keep the k smallest DISTINCT md5-derived user hashes per
      group; estimate = (k−1)·2³²/h₍ₖ₎, error ~1/√k; bottom-k sets
      union-merge across partitions/engines, and the md5 hash makes the
      estimate bit-identical anywhere (the minhash discipline). Groups
      with <k distinct users report exactly.
    - hash-sample median: the deterministic 1/16 sample (event-hash
      residue) with the LOWER-median element picked by explicit
      row_number — no interpolation semantics to disagree on.

    Skew-safe shapes throughout (VERDICT r9 #1 — a hot event type must
    NOT funnel its full distinct-user relation through one task's sort):
    the k-th smallest hash comes from the two-stage sub-shard bottom-k
    (`sampling.bottom_k_per_group` — rank within (event_type, h%64),
    re-rank the <= k*64 survivors), `exact_users` is a windowless
    partial-agg count of the deduped relation, and the sample median
    runs the distributed two-level prefix-scan selection
    (`sampling.exact_group_median`) instead of a per-group full-relation
    row_number. Identical output; plan pinned by
    `tests/test_plans.py::test_sketch_stats_skew_safe_windows`."""
    from lakota_spark.functions import hash32
    from lakota_spark.operators.sampling import (
        bottom_k_per_group,
        exact_group_median,
    )
    from lakota_spark.sources import read_parquet

    e = read_parquet(spark, f"{sf_dir}/events.parquet")
    h = hash32(F.concat(F.lit("kmv:"), F.col("user_id").cast("string")))
    # pinned: the distinct-user relation feeds BOTH the bottom-k and the
    # exact count — one materialization instead of two corpus scans
    uh = (
        e.select("event_type", h.alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select("event_type", "h")
        .localCheckpoint(eager=False)
    )
    hk = (
        bottom_k_per_group(uh, _KMV_K, "event_type", "h")
        .where(F.col("bottom_rank") == _KMV_K)
        .select("event_type", F.col("h").alias("_hk"))
    )
    cnt = uh.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_users")
    )
    kmv = cnt.join(hk, "event_type", "left").select(
        "event_type",
        F.when(
            F.col("_hk").isNotNull(),
            F.round((_KMV_K - 1) * 4294967296.0 / F.col("_hk"), 6),
        ).otherwise(F.col("exact_users").cast("double")).alias("kmv_users"),
        "exact_users",
    )
    sample = e.where(
        F.pmod(
            hash32(F.concat(F.lit("smp:"), F.col("event_id").cast("string"))),
            F.lit(16),
        )
        == 0
    ).select("event_type", "value")
    med = exact_group_median(sample, "event_type", "value").select(
        "event_type", F.col("median").alias("sample_p50")
    )
    base = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    # LEFT join: a group whose 1/16 hash sample came up empty keeps its
    # row (null median) instead of silently vanishing from the report
    return (
        kmv.join(med, "event_type", "left")
        .join(base, "event_type")
        .select("event_type", "kmv_users", "exact_users", "sample_p50", "n")
    )


def group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-event-type value quantiles (p25/p50/p75/p90 as LOWER
    rational quantiles) via `sampling.exact_group_quantiles` — the
    multi-rank generalization of the r10 skew-safe median: one
    tie-collapsed range-partitioned relation serves all four ranks,
    with no per-group full-relation sort anywhere. Oracle: the plain
    row_number form joined against the quantile list."""
    from lakota_spark.operators.sampling import exact_group_quantiles
    from lakota_spark.sources import read_parquet

    e = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    return exact_group_quantiles(
        e, "event_type", "value",
        ((1, 4), (1, 2), (3, 4), (9, 10)),
    )


def unigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity-proxy scoring: corpus-trained add-one
    unigram LM, per-doc average token log-prob in exact micro-nats."""
    return T.unigram_lm_scores(_docs(spark, sf_dir))


def unigram_lm_quality_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME scoring through the skew-safe salted lookup join
    (round 11, VERDICT r10 #2): vocab replicated over salt buckets,
    token relation explicitly co-partitioned on (token, salt) — the
    at-scale plan for corpora whose vocab exceeds the broadcast
    threshold. Shares `unigram_lm_quality`'s oracle: the salted plan
    must be value-identical, and this row proves it under the external
    driver gate (plan + partition-spread contract in
    tests/test_plans.py::test_lm_salted_join_spreads_hot_key)."""
    return T.unigram_lm_scores(_docs(spark, sf_dir), salt=8)


def ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail stratification: per-language ntile(3) over
    the unigram-LM score (deterministic tiebreak on doc_id), rolled up
    to per-(lang, bucket) doc counts and score ranges — the partition
    CCNet samples from when building a crawl corpus. One window shuffle
    over the scored relation; the LM scoring itself is the
    `unigram_lm_quality` plan (micro-nat folds, oracle-exact)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    scored = T.unigram_lm_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    return (
        scored.withColumn("bucket", F.ntile(3).over(w).cast("long"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_logprob").alias("min_logprob"),
            F.max("avg_logprob").alias("max_logprob"),
        )
    )


def semdedup_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means clusters as the dedup blocking key, intra-cluster
    cosine ranking (operators/dedup.semdedup_pairs). The blocking key
    comes straight from the MATERIALIZED per-corpus IVF lists (size-
    scaled k, shared with `ivf_kmeans_topk`), so the per-run cost is
    just the salted block pair-join — no assignment pass at all."""
    return D.semdedup_pairs(
        _emb(spark, sf_dir),
        assigned=_ivf_lists(spark, sf_dir),
    )


def lang_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling weights over the documents
    table (operators/sampling.mixture_weights, alpha = 0.3 / 0.7)."""
    from lakota_spark.operators.sampling import mixture_weights

    return mixture_weights(_docs(spark, sf_dir), "lang")


def _ensure_candidate_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialized LSH candidate-pair table, written once per corpus
    (mtime-keyed like the trigram/BM25 indexes): shingle→sign→band runs
    ONE time and every verify tier reads the same (doc_a, doc_b)
    relation — the multi-tier dedup architecture at 100 TB, where the
    signature pass is far too expensive to re-derive per tier."""
    import os

    # the index content is a function of the LSH parameters too — encode
    # them in the path so a constant change can never serve stale pairs
    kind = f"lshcand-k{NUM_HASHES}b{BANDS}n{SHINGLE_N}"
    path = _index_path(sf_dir, kind)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        sh = D.shingle_table(_docs(spark, sf_dir), n=SHINGLE_N)
        sh = sh.localCheckpoint(eager=False)
        sigs = D.minhash_signatures(sh, num_hashes=NUM_HASHES)
        # UNCAPPED: the index is the complete candidate relation (and the
        # DuckDB oracles generate candidates with no bucket cap — a capped
        # index would silently diverge on a boilerplate-mass corpus);
        # consumers apply their own max_bucket policy when needed
        cand = D.lsh_candidates(
            sigs, num_hashes=NUM_HASHES, bands=BANDS, max_bucket=None
        )
        cand.write.mode("overwrite").parquet(path)
    return path


def edit_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification over MinHash-LSH candidates
    (operators/dedup.edit_dup_pairs): character-level Levenshtein confirms
    the token-level LSH proposals, read from the materialized per-corpus
    candidate index. The broadcast candidate join preserves the doc
    scan's partitioning, so an under-parallel single-file input runs
    every Levenshtein on one core — round-robin it first (2.3 -> 0.6 s
    at sf0.1; no-op on a well-partitioned scan)."""
    from lakota_spark.operators.util import ensure_parallelism

    cand = spark.read.parquet(_ensure_candidate_index(spark, sf_dir))
    return D.edit_dup_pairs(
        ensure_parallelism(_docs(spark, sf_dir)), candidates=cand
    )


def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment verify tier over the materialized LSH candidates
    (operators/dedup.containment_pairs): asymmetric |A∩B|/|S| ratios
    catch quote-embedding partial duplication that symmetric Jaccard
    dilutes; top 25 pairs by max-direction containment."""
    cand = spark.read.parquet(_ensure_candidate_index(spark, sf_dir))
    # both sides of the pair join consume the shingle relation;
    # checkpoint so the shingle chain runs once (the winnow_dup_pairs
    # recompute-guard discipline, tests/test_plans.py)
    sh = D.shingle_table(_docs(spark, sf_dir), n=SHINGLE_N).localCheckpoint(
        eager=False
    )
    return (
        D.containment_pairs(sh, candidates=cand)
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
        .limit(25)
    )


def winnow_fingerprint_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection per document
    (operators/text.winnow_fingerprints) — local-sampling guarantees for
    partial-overlap detection, zero shuffle. impl="arrow": the per-batch
    hashlib/numpy fold (bit-identical to the expression chain, pinned by
    test_winnow_arrow_impl_bit_identical) measured 0.26× at 32 cores and
    0.11× at 8 cores vs the zip_with chains at sf0.1 (round-14 A/B,
    OPTIMIZATION_r14.md §4)."""
    from lakota_spark.operators.util import ensure_parallelism

    return T.winnow_fingerprints(
        ensure_parallelism(_docs(spark, sf_dir)), impl="arrow"
    )


def quality_gate_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming Gopher/C4 quality gate
    (streaming/streaming_quality_gate — same expression graph): docs
    clearing the token-count/word-length/punctuation rules."""
    from lakota_spark.operators.text import quality_gate_col

    return _docs(spark, sf_dir).where(quality_gate_col()).select(
        "doc_id", "lang", "n_chars"
    )


def boilerplate_doc_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style frequent-5-gram boilerplate fractions per doc
    (operators/dedup.boilerplate_flags, min_docs=2)."""
    return D.boilerplate_flags(_docs(spark, sf_dir))


def source_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filtering (operators/sampling.blocklist_filter): drop
    four blocked sources via broadcast anti-join, count survivors per
    language."""
    from lakota_spark.operators.sampling import blocklist_filter

    blocked = spark.createDataFrame(
        [("src3",), ("src7",), ("src13",), ("src17",)], "source string"
    )
    kept = blocklist_filter(_docs(spark, sf_dir), blocked)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


def line_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level dedup (operators/dedup.line_dedup): a shared footer
    line is injected into a deterministic doc slice, plus one unique
    line per doc — the shared line must vanish from every doc, the
    unique ones survive."""
    docs = _docs(spark, sf_dir)
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nsubscribe to our newsletter\nunique line "),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    return D.line_dedup(aug)


def char_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per doc (operators/text.char_entropy) —
    the run-on/base64 junk detector; zero shuffle, micro-bit exact fold.
    (Assumes non-empty texts: Spark splits '' into [''] where SQL engines
    produce an empty list — the testdata corpus has no empty docs.)"""
    from lakota_spark.operators.util import ensure_parallelism

    return T.char_entropy(ensure_parallelism(_docs(spark, sf_dir)))


def chunked_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping token chunking with provenance
    (operators/text.chunk_documents, 32-token windows, stride 24)."""
    return T.chunk_documents(_docs(spark, sf_dir))


#: fitted-BPE memo keyed on the documents file identity — the tokenizer
#: is a per-corpus index artifact like the IVF centroids above
_BPE_MEMO: dict = {}


def _bpe_model(spark: SparkSession, sf_dir: str):
    from lakota_spark.operators import tokenizer as TK

    key = (sf_dir, _file_stamp(f"{sf_dir}/documents.parquet"))
    if key not in _BPE_MEMO:
        _BPE_MEMO[key] = TK.fit_bpe(
            _docs(spark, sf_dir), n_merges=200, max_words=200_000
        )
    return _BPE_MEMO[key]


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-BPE tokenization (operators/tokenizer.py): fit 200 merges
    on the corpus word-frequency table (one distributed agg + driver
    merge loop — the HF-trainer shape), then one shuffle-free
    Arrow-batched encode pass reporting per-doc token counts and
    chars-per-token fertility. Fit + subword inference are not
    SQL-expressible, so this entry is rows-only by design (pinned
    instead by tests/test_tokenizer.py: incremental-fit ≡ naive
    recount fit, Spark encode ≡ driver encode, round-trip identity)."""
    from lakota_spark.operators import tokenizer as TK

    return TK.bpe_token_stats(_bpe_model(spark, sf_dir), _docs(spark, sf_dir))


def _bpe_fixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture corpus with a PROVABLY closed-form BPE fit (round 9,
    VERDICT r8 #1): per doc the text is a deterministic word mix —
    ``aa``×(3+d%5), ``ab``×(2+d%3), ``ba ba b xy xy``, plus ``xyz`` when
    d%7==0 and ``zz`` only in doc 3. Every pair on every frequent word's
    merge path has corpus count ≥ 2, so an exhausting fit (n_merges well
    above the ≤14 steps the 7-word vocabulary admits) provably folds
    each of aa/ab/ba/b/xy/xyz into ONE token regardless of merge order,
    while ``zz`` (corpus count 1) provably encodes to exactly TWO tokens
    [z, z</w>]: the shared pair (z, </w>) is frequent via ``xyz`` (and
    always merges before (y, z), whose count is strictly one lower), but
    (z, z) and (z, z</w>) have corpus count 1 < min_pair_count and can
    never merge — making per-doc token counts pure doc_id arithmetic
    without enumerating the merge order in SQL."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.expr(
            "concat(repeat('aa ', cast(3 + doc_id % 5 as int)),"
            " repeat('ab ', cast(2 + doc_id % 3 as int)),"
            " 'ba ba b xy xy',"
            " case when doc_id % 7 = 0 then ' xyz' else '' end,"
            " case when doc_id = 3 then ' zz' else '' end)"
        ).alias("text"),
    )


_BPE_FIXTURE_MEMO: dict = {}


def _bpe_fixture_model(spark: SparkSession, sf_dir: str):
    from lakota_spark.operators import tokenizer as TK

    key = (sf_dir, _file_stamp(f"{sf_dir}/documents.parquet"))
    if key not in _BPE_FIXTURE_MEMO:
        _BPE_FIXTURE_MEMO[key] = TK.fit_bpe(
            _bpe_fixture_docs(spark, sf_dir), n_merges=64
        )
    return _BPE_FIXTURE_MEMO[key]


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT fixture-corpus BPE entry (round 9, VERDICT r8 #1 —
    was rows-only through r8): per-language fertility report
    (tokens/word, chars/token, doc/word/token mass) of a BPE fitted ON
    `_bpe_fixture_docs`, whose construction makes the full fit + encode
    chain closed-form — tokens per doc = words per doc except the
    rare-word ``zz`` (2 tokens, min_pair_count floor) — so the whole
    distributed fit (word-count agg + driver merge loop) and the
    Arrow-batched encode pass are driver-checked against doc_id
    arithmetic. The REAL-corpus BPE surface stays covered by
    `bpe_token_stats`/`bpe_packed_sequences` (rows-only by design,
    pinned by tests/test_tokenizer.py's driver recount)."""
    from lakota_spark.operators import tokenizer as TK

    return TK.bpe_fertility_by_lang(
        _bpe_fixture_model(spark, sf_dir), _bpe_fixture_docs(spark, sf_dir)
    )


def bpe_token_stats_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT per-doc BPE token-stats twin (round 10, VERDICT r9
    #7 — pins the statistics SHAPE of the last rows-only entry): the
    same `tokenizer.bpe_token_stats` code path as the real-corpus entry
    — distributed word-count fit + the single Arrow-batched encode
    projection — but over `_bpe_fixture_docs`, whose construction makes
    every output column pure doc_id arithmetic (n_bpe = words + the
    doc-3 ``zz`` split; n_chars = 3a+3b+13+4x+3z), so per-doc counts
    AND the fertility ratio are driver-checked value-exact. The
    real-corpus `bpe_token_stats` stays rows-only by nature (subword
    inference on natural text is not SQL-expressible — NOTES r10)."""
    from lakota_spark.operators import tokenizer as TK

    return TK.bpe_token_stats(
        _bpe_fixture_model(spark, sf_dir), _bpe_fixture_docs(spark, sf_dir)
    )


_WP_FIXTURE_MEMO: dict = {}


def _wp_fixture_model(spark: SparkSession, sf_dir: str):
    from lakota_spark.operators import tokenizer as TK

    key = (sf_dir, _file_stamp(f"{sf_dir}/documents.parquet"))
    if key not in _WP_FIXTURE_MEMO:
        _WP_FIXTURE_MEMO[key] = TK.fit_wordpiece(
            _bpe_fixture_docs(spark, sf_dir), n_merges=64
        )
    return _WP_FIXTURE_MEMO[key]


def wordpiece_token_stats_fixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLE-EXACT WordPiece entry (round 10 — the BERT-family
    tokenizer next to BPE): likelihood-ratio trainer
    (`tokenizer.fit_wordpiece` — score = count(ab)/(count(a)count(b)),
    exact-rational comparisons) + greedy longest-match inference over
    `_bpe_fixture_docs`. The SAME exhausting-fit argument as the BPE
    fixture applies in the ``##`` symbol space: every pair on a
    frequent word's path holds corpus count ≥ 2, so the fit folds each
    of aa/ab/ba/b/xy/xyz into ONE vocab piece regardless of merge
    ORDER (greedy longest-match then takes the full word), while
    ``zz`` (count 1 < min_pair_count) provably encodes to
    ``[z, ##z]`` — per-doc token counts are the same doc_id arithmetic
    the BPE fixture proves, now validating a DIFFERENT trainer
    criterion and a DIFFERENT inference rule."""
    from lakota_spark.operators import tokenizer as TK

    return TK.wordpiece_token_stats(
        _wp_fixture_model(spark, sf_dir), _bpe_fixture_docs(spark, sf_dir)
    )


_UG_FIXTURE_MEMO: dict = {}


def _unigram_fixture_model(spark: SparkSession, sf_dir: str):
    """Counts-derived unigram model over the fixture corpus: pieces =
    corpus words with count >= 2 (the same floor as the BPE/WordPiece
    fixtures) plus every character at count 1. With probabilities
    log(c/T), ANY multi-piece split of an in-vocab word w loses to the
    whole-word piece: the split's best score is
    log(c_sub/T) + log(c_rest/T) <= log(c_sub/T) + log(c_max/T)
    < log(c_w/T) whenever c_sub * c_rest < c_w * T — and T (the total
    mass) exceeds every single count, so the inequality always holds.
    Hence Viterbi provably emits ONE token per frequent word and
    [z, ##-free z] for the count-1 ``zz`` — closed-form again."""
    from lakota_spark.operators import tokenizer as TK

    key = (sf_dir, _file_stamp(f"{sf_dir}/documents.parquet"))
    if key not in _UG_FIXTURE_MEMO:
        wc = TK.corpus_word_counts(_bpe_fixture_docs(spark, sf_dir))
        counts = {ch: 1 for w, _ in wc for ch in w}
        for w, c in wc:
            if c >= 2:
                counts[w] = max(counts.get(w, 0), int(c))
        _UG_FIXTURE_MEMO[key] = TK.unigram_model_from_counts(
            sorted(counts.items())
        )
    return _UG_FIXTURE_MEMO[key]


def unigram_token_stats_fixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ORACLE-EXACT unigram-LM (SentencePiece-family) entry (round 10 —
    the third tokenizer beside BPE and WordPiece): integer-micro-nat
    VITERBI inference (`tokenizer.unigram_viterbi`) under the
    counts-derived fixture vocab (`_unigram_fixture_model` — see its
    proof that whole-word pieces always win), over the same closed-form
    corpus, so per-doc token counts are the proven doc_id arithmetic.
    The EM TRAINER (`fit_unigram`) is engine-pinned instead:
    brute-force segmentation optimality, corpus-likelihood improvement,
    Spark-vs-driver parity and repartition determinism in
    tests/test_tokenizer.py (EM probabilities are not SQL-derivable —
    same reasoning as the real-corpus BPE entry, NOTES r10)."""
    from lakota_spark.operators import tokenizer as TK

    return TK.unigram_token_stats(
        _unigram_fixture_model(spark, sf_dir),
        _bpe_fixture_docs(spark, sf_dir),
    )


def bpe_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT end-to-end pretraining prep composite (round 9 —
    was rows-only through r8): fit BPE on the closed-form fixture
    corpus, encode every doc to token ids, pack the id stream into
    fixed 64-token training sequences
    (operators/tokenizer.pack_token_sequences — EOS-joined,
    hash-bucketed parallel streams). With per-doc token counts pure
    doc_id arithmetic (`_bpe_fixture_docs`), the whole packing is
    SQL-enumerable: per bucket the EOS-joined stream length is a
    running sum over hash32-ordered docs, n_seqs = ⌈total/64⌉, n_full =
    ⌊total/64⌋, and doc_slots folds each doc's window-overlap count
    ⌊(cum−1)/64⌋−⌊start/64⌋+1 — so fit, encode, offset window AND the
    token-granular reassembly are all driver-checked. The REAL-corpus
    packing stays pinned by tests/test_tokenizer.py's driver
    reference."""
    from lakota_spark.operators import tokenizer as TK

    ids = TK.bpe_tokenize_ids(
        _bpe_fixture_model(spark, sf_dir), _bpe_fixture_docs(spark, sf_dir)
    )
    packed = TK.pack_token_sequences(ids, seq_len=64, n_buckets=16)
    return packed.groupBy("pack_bucket").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum(F.when(F.col("n_ids") == 64, 1).otherwise(0)).alias("n_full"),
        F.sum("n_ids").alias("total_ids"),
        F.sum("n_docs").alias("doc_slots"),
    )


def balanced_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k balanced subset: 30 docs per language by deterministic
    hash rank (operators/sampling.sample_k_per_group — skew-safe
    two-stage top-k; same result as the single-window SQL row_number
    form, which is the oracle)."""
    from lakota_spark.operators.sampling import sample_k_per_group

    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    return sample_k_per_group(docs, k=30, group_col="lang", salt="bal")


def winnow_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style fingerprint dup pairs (operators/text.winnow_dup_pairs):
    docs sharing ≥2 winnowed fingerprints — the partial-overlap
    complement of whole-document MinHash banding (any shared w+k-1-word
    run contributes a shared fingerprint). Band-join discipline:
    fingerprint explode, hot-bucket cap, equi-join, partial-agg pair
    count — exact SQL oracle. The wrapper round-robins the
    under-parallel single-file input: the w-1-zip_with winnow chain is
    the per-row-expensive kind that serializes on one core otherwise
    (19.7 s -> 1.7 s at sf0.1 with this guard + the operator's
    localCheckpoints; no-op on a well-partitioned scan). impl="arrow":
    the fingerprint table comes from the per-batch hashlib/numpy fold
    (bit-identical, pinned by test_winnow_fp_table_arrow_identical);
    round-14 A/B at sf0.1: 0.71x at 32 cores, 0.41x at 8."""
    from lakota_spark.operators.util import ensure_parallelism

    return T.winnow_dup_pairs(
        ensure_parallelism(_docs(spark, sf_dir)), impl="arrow"
    )


def langid_ngram_confusion(
    spark: SparkSession, sf_dir: str, salt: int = 1
) -> DataFrame:
    """Learned language-ID (operators/text.langid_ngram_fit/predict):
    character-trigram naive Bayes fitted from the corpus's own labels,
    scored in exact integer micro-nats, argmax per doc, reported as the
    (lang, pred_lang, n_docs) confusion matrix. The synthetic corpus's
    text is language-independent word soup, so a deterministic per-label
    marker phrase is appended first (the `trigram_accent_search`
    augmentation pattern) - the model then has genuine per-language
    trigram mass and wide integer margins. Exact SQL oracle (the whole
    fit/predict chain unrolls to CTEs)."""
    from lakota_spark.operators.util import ensure_parallelism

    m = T.LANG_MARKERS
    # char-gram zip chains over the augmented text are per-row
    # expensive; round-robin the single-partition scan (4.4 -> 2.6 s
    # at sf0.1; no-op on a well-partitioned scan)
    docs = ensure_parallelism(_docs(spark, sf_dir))
    marker = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in sorted(m.items())
        ],
        F.lit(""),
    )
    aug = docs.select(
        "doc_id", "lang", F.concat(F.col("text"), marker).alias("text")
    )
    # NOT shared-tokenized: a checkpointed (doc_id, lang, g) relation
    # for fit+predict was A/B'd and LOST (3.4 s vs 2.6 s at sf0.1, 16 s
    # cold) — materializing ~17.5M exploded gram rows costs more than
    # re-running the now-parallel gram chain twice. The tok= escape
    # hatch stays on the operators for corpora where the chain
    # dominates the explode's row bytes.
    model, langs = T.langid_ngram_fit(aug)
    # carry=["lang"] (broadcast path only): thread the true label
    # through the predict groupBy instead of re-joining predictions
    # back onto the corpus on doc_id — drops the docs-vs-pred equi-join
    # (2 exchanges) and one corpus scan from the plan; counts are
    # identical (lang is functionally dependent on doc_id). Interleaved
    # A/B at sf0.1: plain 8.1 -> 4.3 s (with the fit-side checkpoint).
    # NOT carried on the salted path: there the probe side is
    # repartitioned on (g, salt), so the label would ride the per-GRAM
    # exchange — measured ~15% slower than re-joining per-doc
    # (4.0 -> 4.7 s); the salted twin keeps the doc_id join.
    if salt > 1:
        pred = T.langid_ngram_predict(aug, model, langs, salt=salt)
        return (
            aug.select("doc_id", "lang")
            .join(pred, "doc_id")
            .groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        )
    pred = T.langid_ngram_predict(aug, model, langs, carry=["lang"])
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def langid_ngram_confusion_salted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME learned language-ID confusion matrix with the gram→model
    lookup join routed through the skew-safe salted path (round 12,
    VERDICT r11 #5): character trigrams are Zipf-distributed, so at
    corpus scale the hot grams straggle a plain sort-merge join once the
    model outgrows broadcast. Shares `langid_ngram_confusion`'s oracle —
    the salted plan must be value-identical."""
    return langid_ngram_confusion(spark, sf_dir, salt=8)


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent tokens above 1% of all token occurrences
    (operators/sampling.heavy_hitters): JVM-side merged Karp sketch
    prunes to a bounded candidate list, broadcast semi-join + groupBy
    verifies exactly — the sketch-prunes/exact-verify discipline, so the
    oracle is a plain HAVING filter. Integer cross-multiplied threshold
    (count * 100 >= total), no float boundary."""
    from lakota_spark.functions import tokens
    from lakota_spark.operators.sampling import heavy_hitters

    tok = _docs(spark, sf_dir).select(
        F.explode(tokens("text")).alias("token")
    )
    return heavy_hitters(tok, "token", numer=1, denom=100)


#: fitted quality-classifier memo keyed on the documents file identity —
#: the model is a per-corpus index artifact like the IVF centroids/BPE fit
_QC_MEMO: dict = {}


def _memo_get(memo: dict, key: tuple, build):
    """Stamp-keyed fit memo with per-identity eviction (ADVICE r7):
    ``key`` is (*identity, file_stamp). On a stamp change the stale
    entry for the same identity is replaced, not accumulated — a
    long-lived session that rewrites its corpus holds at most one
    fitted model per (query, sf_dir), not one per rewrite."""
    if key not in memo:
        ident = key[:-1]
        for stale in [k for k in memo if k[:-1] == ident]:
            del memo[stale]
        memo[key] = build()
    return memo[key]

#: demo hyperparameters — the SINGLE source of truth; the unrolled SQL
#: oracle in __spark_entry__ imports these, so tuning here cannot drift
#: from the oracle chain
QC_N_FEATURES, QC_N_ITER, QC_LR = 64, 12, 1.0 / 8192


def _qc_aug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labelled corpus for the classifier demos: docs from ``src0`` are
    the designated REFERENCE slice (y=1) and get `QUALITY_MARKER`
    appended so the learned model has genuine token-level signal (the
    langid marker-augmentation pattern — the synthetic text itself is
    label-independent word soup)."""
    from lakota_spark.operators.classifier import QUALITY_MARKER

    return _docs(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("y"),
        F.concat(
            F.col("text"),
            F.when(F.col("source") == "src0", F.lit(QUALITY_MARKER)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )


def _qc_model(spark: SparkSession, sf_dir: str):
    from lakota_spark.operators import classifier as QC

    key = (sf_dir, _file_stamp(f"{sf_dir}/documents.parquet"))
    return _memo_get(
        _QC_MEMO,
        key,
        lambda: QC.quality_classifier_fit(
            _qc_aug(spark, sf_dir),
            "y",
            n_features=QC_N_FEATURES,
            n_iter=QC_N_ITER,
            lr=QC_LR,
        ),
    )


def _qc_confusion(labeled: DataFrame, scored: DataFrame) -> DataFrame:
    """(label, pred, n_docs, sum_score_raw) confusion matrix — shared by
    the full-corpus and held-out evals so the oracle's output shape has
    exactly one Spark twin."""
    return (
        labeled.select("doc_id", F.col("y").alias("label"))
        .join(scored, "doc_id")
        .groupBy("label", "pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("score_raw").alias("sum_score_raw"),
        )
    )


def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style learned quality classifier
    (operators/classifier.quality_classifier_fit): hashed-token logistic
    regression fitted by class-balanced full-batch GD to separate the
    reference slice from the crawl, scored over the full corpus,
    reported as the (label, pred, n_docs, sum_score_raw) confusion
    matrix. Engine-exact end to end — integer micro weights, algebraic
    fast sigmoid, in-engine rounding — so the WHOLE 12-iteration fit
    unrolls to a bit-exact SQL oracle (the Lloyd-chain discipline)."""
    from lakota_spark.operators import classifier as QC

    aug = _qc_aug(spark, sf_dir)
    scored = QC.quality_classifier_scores(_qc_model(spark, sf_dir), aug)
    return _qc_confusion(aug, scored)


def pareto_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3 Appendix-A acceptance sampling over the learned quality
    scores (operators/classifier.pareto_quality_sample): keep iff
    ``Lomax(9) > 1 - prob``, hash-derandomized and rearranged to an
    integer power so the oracle reproduces every keep decision exactly.
    The demo sharpens the logit x8 before the sigmoid (a calibration
    temperature — the raw fast-sigmoid probabilities are too compressed
    for the Pareto gate to discriminate; x8 spreads the reference slice
    toward p≈0.9, matching the calibrated-score setting the GPT-3 rule
    assumes). Returns (label, keep, n_docs)."""
    from lakota_spark.operators import classifier as QC

    aug = _qc_aug(spark, sf_dir)
    scored = QC.quality_classifier_scores(
        _qc_model(spark, sf_dir), aug
    ).select(
        "doc_id",
        QC.fast_sigmoid(F.col("score_raw") * F.lit(8)).alias("prob"),
    )
    kept = QC.pareto_quality_sample(scored)
    return (
        aug.select("doc_id", F.col("y").alias("label"))
        .join(kept, "doc_id")
        .groupBy("label", "keep")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion
    (operators/similarity.rrf_fuse) of the dense run (exact cosine
    top-20 to query vector 0 — `cosine_topk`) and the lexical run (BM25
    top-20 from the materialized index — `bm25_topk_indexed`), joined on
    the shared doc/vec id space. Ranks come from the proven 6-decimal
    scores with id tie-breaks; per-run contributions quantize to integer
    nano before the fold, so the fused scores are engine-exact. Returns
    every fused candidate (≤40 rows): (doc_id, rrf_nano, n_runs)."""
    from pyspark.sql import Window

    from lakota_spark.operators.search_index import search_bm25_index
    from lakota_spark.operators.similarity import rrf_fuse

    q = _query_vec(spark, sf_dir, 0)
    dense = S.cosine_topk(_emb(spark, sf_dir), q, k=20).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id")))
        .alias("rank"),
    )
    path = _ensure_bm25_index(spark, sf_dir)
    lex = search_bm25_index(spark, path, BM25_TERMS).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
        .alias("rank"),
    )
    return rrf_fuse([dense, lex])


def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM quality scores
    (operators/text.bigram_lm_scores): corpus-trained bigram model with
    0.4-unigram backoff, per-doc average log-prob in exact micro-nats —
    the word-ORDER-aware upgrade of `unigram_lm_quality`. Exact SQL
    oracle (single-ln integer ratios, micro quantization before the
    fold)."""
    return T.bigram_lm_scores(_docs(spark, sf_dir))


def bigram_lm_quality_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME bigram scoring through the skew-safe salted lookup joins
    (round 12, VERDICT r11 #5): both the bigram-count and unigram-count
    lookups spread their Zipf-hot token keys over salt buckets with
    pinned (key, _salt) co-partitioning — the at-scale plan when the
    n-gram model exceeds the broadcast threshold. Shares
    `bigram_lm_quality`'s oracle: the salted plan must be
    value-identical (plan + spread contract in
    tests/test_plans.py::test_lm_salted_join_spreads_hot_key)."""
    return T.bigram_lm_scores(_docs(spark, sf_dir), salt=8)


#: fitted PCA memo keyed on the embeddings file identity
_PCA_MEMO: dict = {}


def _pca_model(spark: SparkSession, sf_dir: str):
    from lakota_spark.operators.clustering import pca_power_fit

    key = (sf_dir, _file_stamp(f"{sf_dir}/embeddings.parquet"))
    model = _memo_get(
        _PCA_MEMO,
        key,
        lambda: pca_power_fit(_emb(spark, sf_dir), iters=2),
    )
    # the unrolled _PCA_CHAIN oracle hardcodes v0 = 1/sqrt(64) for the
    # demo corpus's 64-dim embeddings (ADVICE r7): fail loudly if the
    # corpus dim ever changes instead of silently diverging from it
    mean, _v = model
    if len(mean) != 64:
        raise AssertionError(
            f"PCA oracle chain assumes dim=64, corpus has {len(mean)}"
        )
    return model


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by 2-iteration power iteration
    (operators/clustering.pca_power_fit — the kmeans rounded-state
    discipline: exact integer folds for every cross-row sum, 6-dec
    rounded state between iterations, so the whole fit unrolls to SQL),
    then every embedding projected onto it (zero-shuffle codegen pass).
    Returns (vec_id, pc1) — the 1-D semantic ordering used for
    whitening checks, curriculum sorting and spectral drift monitoring.
    Exact SQL oracle."""
    from lakota_spark.operators.clustering import pca_project

    mean, v = _pca_model(spark, sf_dir)
    return pca_project(_emb(spark, sf_dir), mean, v)


def pca_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift via PSI over the PCA top-component
    projection (operators/drift.py): split the corpus into a reference
    half and a "new" half (vec_id parity — the deterministic stand-in
    for landed-vs-incoming), histogram pc1 into 16 fixed bins over
    [-5, 5), and report per-bin add-one-smoothed PSI terms in exact
    integer micro-nats (sum = the PSI; >0.25 = refit your artifacts).
    Exact SQL oracle composed from the shared PCA chain."""
    from lakota_spark.operators.drift import histogram_counts, psi_terms

    mean, v = _pca_model(spark, sf_dir)
    from lakota_spark.operators.clustering import pca_project

    # The projection (64-dim zip_with/aggregate per row — interpreted
    # higher-order ops, the expensive kind) feeds FOUR consumers: both
    # histogram sides and, through them, both psi_terms totals. Without
    # lineage truncation each consumer replays the full corpus
    # projection (before-plan: 4 parquet scans, Exchange x10).
    # Materialize the narrow (vec_id, pc1) relation once — the same
    # multi-consumer discipline as the LSH banded relation.
    pc = pca_project(_emb(spark, sf_dir), mean, v).localCheckpoint(
        eager=False
    )
    ref = histogram_counts(
        pc.where(F.col("vec_id") % 2 == 0), "pc1", -5.0, 5.0, 16
    )
    new = histogram_counts(
        pc.where(F.col("vec_id") % 2 == 1), "pc1", -5.0, 5.0, 16
    )
    return psi_terms(ref, new, 16)


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-stop corpus accounting (the first query a data engineer runs
    on a new crawl snapshot): doc/source/language cardinalities, exact
    token and character totals, and length extremes — ONE map-side
    fused scan, no joins, no windows. Exact SQL oracle."""
    docs = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
    return docs.select(
        F.size(toks).cast("long").alias("_nt"),
        F.length("text").cast("long").alias("_nc"),
        "lang",
        "source",
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("_nt").alias("total_tokens"),
        F.sum("_nc").alias("total_chars"),
        F.min("_nc").alias("min_chars"),
        F.max("_nc").alias("max_chars"),
    )


def quality_classifier_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out generalization check for the learned quality classifier:
    fit on a deterministic hash-half of the corpus, report the confusion
    matrix on the other half — the classifier must separate reference
    docs it never saw (marker tokens generalize; per-doc memorization
    cannot). The split hashes the doc id (`stratified_sample`
    transport) — a plain parity split would be useless here because the
    synthetic source assignment correlates with doc_id parity (measured:
    every src0 doc is even). Same engine-exact chain as
    `quality_classifier_eval`; the unrolled oracle adds the hash
    filters."""
    from lakota_spark.functions import hash32
    from lakota_spark.operators import classifier as QC

    aug = _qc_aug(spark, sf_dir)
    split = F.pmod(
        hash32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(2),
    )
    key = ("holdout", sf_dir, _file_stamp(f"{sf_dir}/documents.parquet"))
    _memo_get(
        _QC_MEMO,
        key,
        lambda: QC.quality_classifier_fit(
            aug.where(split == 0),
            "y",
            n_features=QC_N_FEATURES,
            n_iter=QC_N_ITER,
            lr=QC_LR,
        ),
    )
    held = aug.where(split == 1)
    scored = QC.quality_classifier_scores(_QC_MEMO[key], held)
    return _qc_confusion(held, scored)


def source_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-level overlap planning signal
    (operators/dedup.group_shingle_overlap): pairwise Jaccard between
    each source's distinct 3-shingle set — "how much of dump B is
    already in dump A" before any per-doc dedup is scheduled. Exact SQL
    oracle (unrounded exact-int division).

    Round-robins the under-parallel single-file input: the shingle
    chain otherwise runs one ~1 s task (round-14 event-log profile;
    with the guard 0.82x at 32 cores / 0.58x at 8, values identical;
    no-op on a well-partitioned scan)."""
    from lakota_spark.operators.dedup import group_shingle_overlap
    from lakota_spark.operators.util import ensure_parallelism

    return group_shingle_overlap(ensure_parallelism(_docs(spark, sf_dir)))


def html_extract_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT HTML → main-text extraction entry (round 9): every
    document becomes a deterministic HTML page built JVM-side — head
    with title/style/script (must vanish), a nav div with 1+doc_id%3
    anchor links, the sanitized document text as the body paragraph, an
    HTML comment, and an entity-bearing footer — then
    `text.html_extract` (one codegen projection: head/script/style/
    comment removal, block-tag newlines, tag stripping, entity decode,
    whitespace collapse) must recover the body text and the boilerplate
    signals (tag count, link count, anchor-chars/extracted-chars link
    density). The oracle constructs the same page and runs the same
    RE2-compatible chain in DuckDB — extraction is validated
    end-to-end, not spot-checked.

    Round-robins the under-parallel single-file input first: the
    extraction regex chain is per-row-expensive and otherwise runs as
    ONE task (round-14 event-log profile: a single 423 ms task; with
    the guard 0.60x at 32 cores / 0.66x at 8, values identical; no-op
    on a well-partitioned scan)."""
    from lakota_spark.operators.util import ensure_parallelism

    d = ensure_parallelism(_docs(spark, sf_dir))
    pages = d.select(
        "doc_id",
        F.expr(
            "concat('<html><head><title>Doc ', doc_id, '</title>',"
            " '<style>p{margin:', doc_id % 7, 'px}</style>',"
            " '<script>var id=', doc_id, ';</script></head><body>',"
            " '<div id=\"nav\">',"
            " repeat('<a href=\"/x\">L0</a>', cast(1 + doc_id % 3 as int)),"
            " '</div><p>', regexp_replace(text, '[<>&]', ' '), '</p>',"
            " '<!-- built ', doc_id, ' -->',"
            " '<div class=\"foot\">flags &amp; notes</div></body></html>')"
        ).alias("html"),
    )
    return T.html_extract(pages)


def sft_conversation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT instruction-data curation entry (round 9): every
    document becomes a role-tagged conversation built JVM-side —
    2+doc_id%4 alternating user/assistant turns whose contents are
    consecutive 20-char slices of the text (newlines sanitized) — and
    `sft.conversation_stats` (one higher-order-function codegen pass)
    must recover turn counts by role, the starts-with-user and
    strict-alternation flags, the assistant char share, and the
    prompt-dedup digest. The oracle does NOT re-run the parser: it
    derives every value in closed form from the construction (turn
    lengths are least(20, remaining) slices; the digest is md5 of the
    sanitized first slice) — so a parser bug cannot cancel out."""
    from lakota_spark.operators.sft import conversation_stats

    d = _docs(spark, sf_dir)
    conv = F.expr(
        "array_join(transform(sequence(0, cast(1 + doc_id % 4 as int)),"
        " i -> concat(if(i % 2 = 0, 'user', 'assistant'), ': ',"
        " replace(replace(substring(text, 1 + i * 20, 20), char(10), ' '),"
        " char(13), ' '))), char(10))"
    )
    return conversation_stats(d.select("doc_id", conv.alias("text")))


def domain_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-EXACT URL/domain curation entry (round 9): every document
    gets a deterministic URL (www-prefix, source-derived site, a TLD mix
    including second-level country registries, path segments, query
    params by doc_id residue); `text.url_stats` parses scheme / host /
    registrable domain (the bundled FULL Public Suffix List since round
    10 — the ``.co.kr`` variant below is a registry the legacy regex
    mis-folded, so the driver row now proves the PSL path) / path depth
    / param count, and the report aggregates the DOMAIN MIXTURE — the
    per-domain doc mass + corpus share that domain-level reweighting
    and per-site caps key on (the `lang_mixture_weights` sibling along
    the URL axis). The oracle derives the same fields closed-form from
    the construction."""
    from lakota_spark.operators.text import url_stats

    d = _docs(spark, sf_dir)
    url = F.expr(
        "concat('https://', if(doc_id % 2 = 0, 'www.', ''), source,"
        " CASE cast(doc_id % 4 as int) WHEN 0 THEN '.com' WHEN 1 THEN"
        " '.co.kr' WHEN 2 THEN '.co.uk' ELSE '.ac.jp' END,"
        " repeat('/p', cast(doc_id % 3 as int)),"
        " if(doc_id % 5 = 0, '?q=1&r=2', ''))"
    )
    parsed = url_stats(d.select("doc_id", "source", url.alias("url")))
    agg = parsed.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("path_depth").alias("sum_depth"),
        F.sum("n_params").alias("sum_params"),
    )
    # one-row broadcast scalar for the corpus share (no window, no
    # driver collect — the established pattern). Counted on the RAW docs
    # relation, not `parsed`: url_stats is row-preserving (projection +
    # left-outer PSL flag joins against a unique suffix table), so the
    # counts are identical, and counting `parsed` re-ran the whole
    # regexp+PSL chain a second time (round-13 plan audit: 10 scans,
    # two full BroadcastHashJoin×4 chains → one).
    tot = d.agg(F.count(F.lit(1)).alias("_total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        "n_hosts",
        (F.col("n_docs") / F.col("_total")).alias("share"),
        (F.col("sum_depth") / F.col("n_docs")).alias("mean_depth"),
        F.col("sum_params").cast("long").alias("sum_params"),
    )


def encoding_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language encoding triage (operators/text.encoding_stats):
    replacement-character and control-character totals plus the
    non-ASCII mass — judged per lang because non-Latin scripts are
    SUPPOSED to be non-ASCII. One zero-shuffle stats pass + one
    partial-agg groupBy. Exact SQL oracle."""
    from lakota_spark.operators.text import encoding_stats

    docs = _docs(spark, sf_dir)
    st = encoding_stats(docs)
    return (
        docs.select("doc_id", "lang")
        .join(st, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_replacement").alias("total_replacement"),
            F.sum(F.when(F.col("n_control") > 0, 1).otherwise(0)).alias(
                "docs_with_control"
            ),
            F.sum("n_non_ascii").alias("total_non_ascii"),
        )
    )


def interval_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident-impact report through the multi-level interval join
    (operators/interval.interval_join): error events open a ±minutes
    incident window, purchase events open a value-derived session
    window, and the report counts overlapping purchase sessions (and
    their exact overlap seconds) per incident day.  The naive Spark
    formulation of this join is a BroadcastNestedLoopJoin; the grid
    join keeps it equi-shaped (plan pinned in test_plans), which is
    the difference between O(|err|*|pur|) and a shuffle at 100 TB.
    All-integer output: epoch-second bounds, counts, summed seconds —
    hash-exact against the DuckDB inequality-join oracle."""
    from lakota_spark.operators.interval import (
        interval_join,
        overlap_length,
    )

    e = parity._events(spark, sf_dir)
    secs = F.col("ts").cast("timestamp").cast("long")
    err = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("inc_id"),
        (secs - 120).alias("inc_s"),
        (secs + 180).alias("inc_e"),
    )
    pur = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        secs.alias("p_s"),
        (
            secs
            + 60
            + F.pmod(F.round(F.col("value") * 100).cast("long"), F.lit(240))
        ).alias("p_e"),
    )
    j = interval_join(
        err, pur, "inc_s", "inc_e", "p_s", "p_e", base_width=300
    ).withColumn("ov", overlap_length("inc_s", "inc_e", "p_s", "p_e"))
    return j.groupBy(
        F.floor((F.col("inc_s") + 120) / 86400).alias("inc_day")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("p_id").alias("n_purchases"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("ov").alias("overlap_s"),
    )


def temperature_resample_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) mixture resampling end-to-end
    (operators/sampling.temperature_resample): the corpus reshaped so
    each language's share follows sqrt-flattened weights, realized as
    deterministic per-doc repeat counts; the report rolls the resampled
    stream back up per language.  alpha=0.5 makes the one float step a
    correctly-rounded sqrt, so the whole chain — micro-quantized
    weights, (num, den) exact rational rate, comparison-ladder floor,
    integer Bernoulli — is bit-identical in the DuckDB oracle.
    All-integer output."""
    from lakota_spark.operators.sampling import temperature_resample

    docs = _docs(spark, sf_dir)
    rs = temperature_resample(
        docs, "lang", alpha=0.5, id_col="doc_id", salt="temp"
    )
    # LEFT join from the docs side: a group whose every doc draws
    # reps=0 must still appear with zeros (the oracle groups over ALL
    # docs rows, so an inner join from the resampled side would
    # silently drop the lang and hash-mismatch)
    return (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .join(
            rs.groupBy("lang").agg(
                F.count(F.lit(1)).alias("_n_out"),
                F.countDistinct("doc_id").alias("_n_kept"),
                F.max("rep_idx").alias("_max_rep"),
            ),
            "lang",
            "left",
        )
        .select(
            "lang",
            "n_docs",
            F.coalesce("_n_out", F.lit(0)).alias("n_out"),
            F.coalesce("_n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("_max_rep", F.lit(0)).alias("max_rep"),
        )
    )


def decayed_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed user activity scores
    (operators/timeseries.decayed_sum): each user's events, ordered by
    (ts, event_id), fold into an integer half-life-per-event decayed
    sum over the last 30 events; the report keeps each user's FINAL
    score — the "how active right now" feature a ranking/eviction
    pipeline materializes per entity.  Exact longs end-to-end, so the
    DuckDB bounded self-join oracle matches bit-for-bit."""
    from lakota_spark.operators.timeseries import decayed_sum

    e = parity._events(spark, sf_dir)
    scored = decayed_sum(
        e,
        "ts",
        "user_id",
        F.round(F.col("value") * 100).cast("long"),
        horizon=30,
        shift=30,
        tiebreak="event_id",
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max_by(
            "decayed", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("last_decayed"),
    )


def cdc_chunk_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking rolled up per source
    (operators/dedup.cdc_chunks): polynomial-rolling-hash boundaries
    (k=8, base=31, mod 2^25, divisor 256 => ~256-char chunks) make
    chunk hashes insertion-stable, so the unique-vs-total chunk-hash
    gap is a direct shared-content signal per dump.  The Spark side is
    one vectorized Arrow map pass + a hash rollup; the oracle replays
    the SAME closed-form hash with a per-char unnest and a bounded
    8-row self-join — exact integers throughout."""
    docs = _docs(spark, sf_dir)
    ch = D.cdc_chunks(docs)
    return (
        ch.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("chunk_hash").alias("n_uniq_chunks"),
            F.sum("chunk_len").alias("total_chars"),
            F.max("chunk_len").alias("max_chunk"),
        )
    )


def cdc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level containment near-dup pairs: CDC chunk hashes
    (operators/dedup.cdc_chunks — insertion-stable boundaries) feed the
    SAME containment machinery as the n-gram tier
    (dedup.containment_pairs), so a doc whose chunks survive inside
    another is caught even after edits shift every fixed offset.  The
    chunk relation is ~n_chars/256 rows per doc — two orders lighter
    than the shingle table — which is why chunk-grain containment is
    the first pass real dedup pipelines run.  Top 25 pairs by
    max-direction containment (threshold 0.25)."""
    docs = _docs(spark, sf_dir)
    ch = (
        D.cdc_chunks(docs)
        .select("doc_id", F.col("chunk_hash").alias("shingle"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return (
        D.containment_pairs(ch, threshold=0.25)
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
        .limit(25)
    )


def priority_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted subsampling per dump via priority sampling
    (operators/sampling.priority_sample_per_group — Duffield/Lund/
    Thorup): 20 docs per source with selection pressure proportional
    to n_chars, the deterministic weighted counterpart of
    sample_k_per_group.  Priorities are two IEEE divisions both
    engines round identically, ranks tie-break on doc_id — the whole
    result (priorities included) is bit-reproducible."""
    from lakota_spark.operators.sampling import priority_sample_per_group

    docs = _docs(spark, sf_dir)
    return priority_sample_per_group(
        docs.select("doc_id", "source", "n_chars"),
        k=20,
        group_col="source",
        weight="n_chars",
        id_col="doc_id",
    ).select("source", "prio_rank", "doc_id", "n_chars", "priority")


def quality_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram / ECE inputs for the held-out classifier
    (the calibration check a filtering pipeline runs before trusting a
    probability threshold): the holdout fold's fast-sigmoid
    probabilities binned into deciles, each bin reporting doc count,
    positive count, and the micro-quantized confidence mass —
    ECE = sum n_b/N * |sum_conf_b/(1e6*n_b) - n_pos_b/n_b| follows by
    two exact divisions per bin.  All-integer output (confidence is
    quantized per doc BEFORE the order-free long sum), so the unrolled
    GD oracle extends hash-exactly.  Reuses the memoized holdout fit —
    same model as `quality_classifier_holdout`."""
    from lakota_spark.functions import hash32
    from lakota_spark.operators import classifier as QC

    aug = _qc_aug(spark, sf_dir)
    split = F.pmod(
        hash32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        F.lit(2),
    )
    key = ("holdout", sf_dir, _file_stamp(f"{sf_dir}/documents.parquet"))
    _memo_get(
        _QC_MEMO,
        key,
        lambda: QC.quality_classifier_fit(
            aug.where(split == 0),
            "y",
            n_features=QC_N_FEATURES,
            n_iter=QC_N_ITER,
            lr=QC_LR,
        ),
    )
    held = aug.where(split == 1)
    scored = QC.quality_classifier_scores(_QC_MEMO[key], held)
    j = held.select("doc_id", "y").join(
        scored.select("doc_id", "prob"), "doc_id"
    )
    return (
        j.groupBy(
            F.least(F.floor(F.col("prob") * 10), F.lit(9))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("y").alias("n_pos"),
            F.sum(F.round(F.col("prob") * 1000000).cast("long")).alias(
                "sum_conf_micro"
            ),
        )
    )

"""The end-to-end training-corpus pipeline — every training-data operator
composed into the artifact an LLM data team actually ships: raw documents
in, cleaned / deduplicated / chunked / split corpus out, as ONE lazy
composition with exactly one action at the sink.

Stage order is the industry-standard funnel (cheapest filters first, the
quadratic-ish near-dup step only after the corpus has shrunk):

    quality + language gate        (scan-local expressions)
    exact dedup                    (one shuffle on text digest)
    near-dup canonical keep        (shingle join + components + PageRank)
    chunk into token windows       (scan-local explode)
    deterministic split assignment (hash arithmetic, no RNG)
    partitioned parquet write      (split-partitioned, staged and swapped in)

Scale notes per stage live on the operators themselves (operators.text,
operators.dedup, operators.graph); this plan's own contribution is the
ORDER (filter → exact-dedup → near-dup keeps the expensive stage smallest)
and the single-lineage composition (no mid-pipeline materialization except
the near-dup stage's own iterative checkpoints).

Hot-key caps are ON BY DEFAULT in every expensive stage (at 100 TB one
hot key/cluster is the realistic failure, and an uncapped default
quietly plans it): this plan's near-dup join ships with
``neardup_max_df=256`` (below), and the EMBEDDING-space pipeline twin
(operators/clustering.semantic_dedup, composed end-to-end in the
``semantic_dedup_docs`` registry query) now defaults
``max_cluster_size="auto"`` = 4× the average cluster size — one hot
k-means cluster is recursively split before the within-cluster pair
join instead of re-inflating Σ|cluster|² toward n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cachectl import scoped_cache
from ..operators import dedup as D
from ..operators.graph import pagerank
from ..operators.text import chunk_documents, quality_expr
from ..sinks import write_parquet
from ..sources.readers import load_table


def build_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    min_quality: float = 0.3,
    langs: tuple[str, ...] = ("en", "de", "fr", "es"),
    neardup_threshold: float = 0.5,
    neardup_max_df: int | None = 256,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Return the chunk-level training corpus: one row per kept chunk with
    (doc_id, chunk_id, chunk_text, n_tokens, lang, split). Lazy until the
    caller writes/collects, except the near-dup component stage (iterative
    by nature).

    ``neardup_max_df`` is ON BY DEFAULT here (unlike the oracle-checked
    ``ngram_jaccard_pairs`` query, which stays exact): a shingle present
    in d documents fans out to O(d²) join pairs, and at corpus scale
    stop-phrase shingles are the dominant skew — one hot shingle can
    produce more shuffle rows than the rest of the corpus combined.
    Dropping shingles with document frequency > 256 bounds every
    per-shingle fan-out at ~64k pairs while losing only
    non-discriminative evidence (a shingle in >256 docs identifies no
    near-dup pair on its own); Jaccard becomes a lower bound, so capping
    can only MISS borderline pairs, never invent them (pinned by
    test_jaccard_max_df_cap)."""
    docs = load_table(spark, sf_dir, "documents")

    # 1. quality + language gate — quality is a scan-local EXPRESSION
    #    (operators.text.quality_expr), so the gate is a plain filter on
    #    the one corpus scan; joining a quality frame back would cost a
    #    shuffle plus a second scan for nothing
    gated = docs.filter(
        (quality_expr("text") >= min_quality) & F.col("lang").isin(*langs)
    )

    # 2. exact dedup: keep min doc_id per identical text
    canon = (
        gated.groupBy(F.md5("text").alias("__digest"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    # the deduped working set feeds the shingle join, the pagerank vertex
    # list, the keeper decision, and the chunker. The doc-keyed
    # repartition exchange dedupes the LAZY consumers (chunker + final
    # lang join, via ReuseExchange at collect); the scoped cache below
    # covers the EAGER phase (PageRank's and the components' fixpoint
    # jobs run inside the block), and is guaranteed released —
    # getPersistentRDDs() is empty when the plan returns (cachectl.py)
    exact_kept = gated.join(canon, "doc_id").repartition("doc_id")

    # 3. near-dup canonical keep (components + centrality on the survivors)
    pairs = D.ngram_jaccard_pairs(
        exact_kept, threshold=neardup_threshold, max_df=neardup_max_df
    ).select("doc_a", "doc_b")
    with scoped_cache(exact_kept, pairs):
        sym = pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        # rank only the near-dup graph's incident nodes (sym is symmetric,
        # so doc_a covers every endpoint): isolated survivors are singleton
        # components — keepers regardless of rank (canonical_dedup defaults
        # their rank to 0.0) — so the PageRank state is proportional to the
        # candidate pairs, not the corpus
        incident = sym.select(F.col("doc_a").alias("doc_id")).distinct()
        pr = pagerank(
            incident, sym, id_col="doc_id", src="doc_a", dst="doc_b", iterations=4,
            # incident IS sym's endpoint set — the validation semi-joins
            # would be identity shuffles of the edge table
            assume_edges_valid=True,
        )
        # components' fixpoint runs (and reliable-checkpoints) here too
        decision = D.canonical_dedup(exact_kept, pairs, pr)
    # consumed by the chunker and the final lang join — one exchange,
    # both re-read it
    kept = exact_kept.join(
        decision.filter(F.col("is_keeper")).select("doc_id"), "doc_id"
    ).repartition("doc_id")

    # 4. chunk into overlapping token windows
    chunks = chunk_documents(kept, chunk_tokens=chunk_tokens, overlap=overlap)

    # 5. deterministic 80/10/10 split by doc hash (chunks of one doc never
    #    straddle splits — no train/test leakage through overlap windows)
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast("long")
        % 100
    )
    split = F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    return (
        chunks.join(kept.select("doc_id", "lang"), "doc_id")
        .withColumn("split", split)
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens", "lang", "split")
    )


def write_training_corpus(corpus: DataFrame, out_dir: str) -> None:
    """Split-partitioned parquet layout through ``sinks.write_parquet``:
    re-running the pipeline replaces the whole corpus atomically (staged,
    then swapped in; a failed run leaves the previous corpus); consumers
    read only their split directory."""
    write_parquet(corpus.repartition("split"), out_dir, partition_by=["split"])


def release_corpus(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    extra_checks: list | None = None,
    **corpus_kwargs,
) -> int:
    """Publish the training corpus as a VERSIONED RELEASE: the funnel's
    chunk output goes through the write-audit-publish gate (quality
    constraints audited on the PERSISTED bytes) and lands as one atomic
    snapshot whose manifest carries both the audit report and the
    release datacard — a training run pins a version number and gets the
    exact bytes plus the statistics that vouch for them; a bad build
    raises AuditFailed and readers keep seeing the previous release.

    mode='replace': each release is a full rebuild (the funnel is not
    incremental — plans/incremental_corpus.py is the incremental path);
    earlier releases stay readable via time travel until vacuumed.

    Returns the published version number."""
    import inspect

    from .. import versioned as V
    from ..operators import quality as Q

    corpus = build_training_corpus(spark, sf_dir, **corpus_kwargs).persist()
    # audit bound tracks build_training_corpus's own default — one source
    # of truth for the chunk size
    chunk_tokens = corpus_kwargs.get(
        "chunk_tokens",
        inspect.signature(build_training_corpus).parameters["chunk_tokens"].default,
    )
    card_row = corpus.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum((F.col("split") == "train").cast("long")).alias("n_train_chunks"),
        F.sum((F.col("split") == "val").cast("long")).alias("n_val_chunks"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test_chunks"),
    ).collect()[0]
    datacard = {k: int(card_row[k] or 0) for k in card_row.asDict()}
    checks = [
        Q.not_null("doc_id"),
        Q.not_null("chunk_text"),
        Q.in_range("n_tokens", 1, chunk_tokens),
        Q.accepted_values("split", "train", "val", "test"),
        Q.unique("doc_id", "chunk_id"),
    ] + list(extra_checks or [])
    try:
        return V.write_audit_publish(
            spark,
            corpus,
            table_dir,
            checks,
            mode="replace",
            extra={"datacard": datacard},
        )
    finally:
        # the release is durable (or rejected); drop the call-local cache
        # rather than leaving a corpus-sized entry for the JVM's lifetime
        corpus.unpersist()

"""Distributed byte-pair-encoding (BPE) vocabulary training + encoding.

The reference pipeline has no tokenizer; this is part of the
training-data extension tier (token budgeting / packing need a real
subword tokenizer, not whitespace counts). Algorithm is the published
BPE subword scheme (Sennrich, Haddow & Birch 2016, "Neural Machine
Translation of Rare Words with Subword Units") — greedy merges of the
most frequent adjacent symbol pair.

Scale shape: training never touches raw text after one pass. The corpus
collapses to the distinct (word, freq) table — at 100 TB of text the
distinct vocabulary is orders of magnitude smaller than the corpus and
every merge round runs only on it. Each round is ONE distributed job:

  pair counts  = explode adjacent symbol pairs weighted by word freq
                 (JVM expression: transform over an index sequence)
  best pair    = argmax(count desc, pair asc) — a 1-row driver collect
                 (the only driver data per round, by design)
  apply merge  = Arrow batch scan rewriting each word's symbol array
                 (left-to-right non-overlapping, the classic scan);
                 localCheckpoint keeps the lineage flat across rounds
                 (same iterative-loop pattern as operators/graph.py
                 pagerank — plan depth, not data, is the cost).

Encoding broadcasts the learned merge ranks (a few thousand entries)
and runs one Arrow pass over documents — the standard "merge the
lowest-rank pair present until none applies" per-word loop, memoized
per distinct word within each batch.

Determinism: pair ties break lexicographically; word→symbol init is
character split with a terminal ``</w>`` marker on the last symbol (the
published formulation), so two runs produce identical merge tables.

Not oracle-SQL-expressible (iterative fixpoint with per-round argmax);
covered by property tests instead: known-corpus merge sequence,
token-roundtrip (concat of a word's tokens reproduces the word),
zero-merge degeneracy to characters, and run-to-run determinism
(tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cachectl import scoped_cache
from ..functions import spread

END = "</w>"


def word_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One pass over the corpus → the distinct (word, freq) table BPE
    trains on. Lowercased whitespace tokenization (matches the repo's
    other text operators)."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _init_symbols(wf: DataFrame) -> DataFrame:
    """(word, freq, syms): character symbols with the terminal marker
    fused onto the last character (``h e l l o</w>``)."""
    chars = F.filter(F.split(F.col("word"), ""), lambda s: s != "")
    n = F.size(chars)
    syms = F.transform(
        chars,
        lambda s, i: F.when(i == n - 1, F.concat(s, F.lit(END))).otherwise(s),
    )
    return wf.select("word", "freq", syms.alias("syms"))


def _pair_counts(symframe: DataFrame) -> DataFrame:
    """Corpus-weighted adjacent-pair counts — pure JVM expressions (no
    Python in the counting hot path). Each word contributes every
    adjacent (syms[i], syms[i+1]) with weight freq."""
    idx = F.sequence(F.lit(0), F.size("syms") - 2)
    pairs = F.transform(
        idx, lambda i: F.struct(F.element_at("syms", i + 1).alias("a"),
                                F.element_at("syms", i + 2).alias("b"))
    )
    return (
        symframe.filter(F.size("syms") >= 2)
        .select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def _merge_word(syms: list, a: str, b: str) -> list:
    """Classic left-to-right non-overlapping merge of (a, b) → a+b."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _apply_merge(symframe: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every word's symbol array with the classic left-to-right
    non-overlapping merge — as a pure JVM fold (F.aggregate), no Python
    boundary: append each symbol unless the running array ends in ``a``
    and the symbol is ``b``, in which case replace the tail with ``a+b``.
    Equivalent to the scan-with-skip formulation (_merge_word, kept for
    the encoder) because a merged tail becomes ``a+b`` which can never
    equal ``a`` again (b is non-empty), so overlaps self-exclude —
    pinned equivalent in tests. Replacing the earlier Arrow pass with
    this expression cut ~40% off training wall time per round: the
    per-round cost is the argmax job itself, not a Python worker round
    trip."""
    merged = F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )
    return symframe.select(
        "word",
        "freq",
        F.when(F.array_contains("syms", a), merged).otherwise(F.col("syms")).alias("syms"),
    )


def _train_local(
    rows, n_merges: int, min_freq: int
) -> list[tuple[str, str, int]]:
    """Exact BPE greedy loop over a COLLECTED (word, freq) table with
    incremental pair-count maintenance — the classic single-node trainer
    (what SentencePiece / HF tokenizers run after their own distributed
    word count). Byte-for-byte the same merge sequence as the
    distributed loop: identical overlapping pair counts, identical
    (count desc, a asc, b asc) argmax (Python code-point string order ==
    Spark's UTF8 byte order — UTF-8 is order-preserving), identical
    left-to-right non-overlapping merge, identical min_freq stop
    (equality pinned against the distributed path in tests)."""
    from collections import Counter, defaultdict

    words: list[list] = []  # [syms, freq]
    for r in rows:
        syms = list(r["word"])
        if not syms:
            continue
        syms[-1] = syms[-1] + END
        words.append([syms, int(r["freq"])])

    counts: dict[tuple[str, str], int] = defaultdict(int)
    where: dict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (syms, freq) in enumerate(words):
        for p in zip(syms, syms[1:]):
            counts[p] += freq
            where[p].add(i)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        if not counts:
            break
        best, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_freq:
            break
        a, b = best
        merges.append((a, b, int(cnt)))
        for i in list(where.get(best, ())):
            syms, freq = words[i]
            new_syms = _merge_word(syms, a, b)
            delta: Counter = Counter()
            for p in zip(syms, syms[1:]):
                delta[p] -= freq
            new_pairs = list(zip(new_syms, new_syms[1:]))
            for p in new_pairs:
                delta[p] += freq
            for p, dv in delta.items():
                if dv:
                    counts[p] += dv
                    if counts[p] <= 0:
                        counts.pop(p, None)
            gone = {p for p in zip(syms, syms[1:])} - set(new_pairs)
            for p in gone:
                s = where.get(p)
                if s is not None:
                    s.discard(i)
                    if not s:
                        where.pop(p, None)
            for p in new_pairs:
                where[p].add(i)
            words[i][0] = new_syms
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    min_freq: int = 2,
    return_counts: bool = False,
    driver_vocab_cap: int | None = 2_000_000,
) -> list[tuple[str, str]] | list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list [(a, b), ...] (rank = position), or [(a, b, cnt), ...]
    with each merge's corpus pair-frequency at selection time when
    ``return_counts`` is set (the greedy argmax makes these counts
    non-increasing — a checkable invariant of the algorithm). Stops
    early when the best pair's corpus frequency drops below
    ``min_freq``.

    Execution: the corpus-sized work is always the ONE distributed
    word-count pass. When the distinct vocabulary fits under
    ``driver_vocab_cap`` rows (BOUNDED collect — the same contract as
    knn_bruteforce's capped driver fetch: we fetch cap+1 and only use
    the result if the table is complete), the merge loop runs locally
    with incremental pair-count updates — the industry-standard trainer
    shape (SentencePiece, HF tokenizers: distributed count, local
    merges), eliminating n_merges driver↔cluster round trips. A larger
    vocabulary falls back to the fully distributed per-round loop below
    — same merge sequence either way (pinned equal in tests). 2M rows
    ≈ 100 MB driver memory; tune the cap to the driver's heap on a
    cluster, or pass None/0 to force the distributed path."""
    # NO spread() here: word_freq output is already spread across the
    # aggregate's shuffle partitions, and spread's partition probe
    # (`df.rdd.getNumPartitions()`) on a post-shuffle AQE frame
    # MATERIALIZES the whole upstream plan as its own job — the word
    # count would run twice, at a cost that grows with the
    # shuffle-partition count.
    wf = word_freq(docs, text_col)
    if driver_vocab_cap:
        head = wf.limit(driver_vocab_cap + 1).collect()
        if len(head) <= driver_vocab_cap:
            merges = _train_local(head, n_merges, min_freq)
            if return_counts:
                return merges
            return [(a, b) for a, b, _ in merges]
        del head  # vocabulary exceeds the cap: distributed loop below
    merges: list[tuple[str, str, int]] = []
    with scoped_cache() as scope:
        symframe = scope.local_ckpt(_init_symbols(wf), eager=True)
        prev: DataFrame | None = None
        for _ in range(n_merges):
            # ONE job per round: the argmax collect also materializes the
            # previous round's LAZY checkpoint (eager would be a second
            # job per round — measured 2x the training wall time), so the
            # parent frame is released only after this collect
            best = (
                _pair_counts(symframe)
                .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(1)
                .collect()
            )
            scope.release(prev)
            if not best or best[0]["cnt"] < min_freq:
                break
            a, b = best[0]["a"], best[0]["b"]
            merges.append((a, b, int(best[0]["cnt"])))
            prev = symframe
            symframe = scope.local_ckpt(_apply_merge(symframe, a, b), eager=False)
    if return_counts:
        return merges
    return [(a, b) for a, b, _ in merges]


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode: repeatedly merge the lowest-rank adjacent
    pair present until no learned pair applies."""
    syms = [c for c in word]
    if not syms:
        return syms
    syms[-1] = syms[-1] + END
    while len(syms) >= 2:
        ranked = [
            (ranks[(syms[i], syms[i + 1])], i)
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not ranked:
            break
        best_rank = min(r for r, _ in ranked)
        a, b = None, None
        for r, i in ranked:
            if r == best_rank:
                a, b = syms[i], syms[i + 1]
                break
        syms = _merge_word(syms, a, b)
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, token) rows: every BPE token of every word, in document
    order. The merge table rides into each task via closure (it is a few
    KB; on a cluster the same list is broadcast with the serialized
    function). Per-batch memoization of distinct words makes the Python
    loop run once per distinct word, not once per occurrence."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def gen(batches):
        for pdf in batches:
            ids, toks = [], []
            cache: dict[str, list[str]] = {}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                for w in str(text).lower().split():
                    enc = cache.get(w)
                    if enc is None:
                        enc = _encode_word(w, ranks)
                        cache[w] = enc
                    ids.extend([did] * len(enc))
                    toks.extend(enc)
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "token": pd.Series(toks, dtype="object")})

    return (
        spread(docs)
        .select(id_col, text_col)
        .mapInPandas(gen, f"{id_col} long, token string")
    )


def bpe_token_stats(
    docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text"
) -> DataFrame:
    """Corpus token distribution under the learned vocabulary:
    (token, n_occurrences, n_docs), the fertility/budget table a
    packing pipeline reads."""
    toks = bpe_encode(docs, merges, text_col)
    return toks.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


def maxmatch_vocab(
    wf: DataFrame, vocab_size: int = 200, max_piece_len: int = 4
) -> DataFrame:
    """Substring vocabulary for greedy longest-match segmentation: the
    ``vocab_size`` highest-frequency character substrings (lengths
    2..``max_piece_len``) of the distinct-word table, frequency-weighted
    by word corpus count. Top-K is a distributed TakeOrderedAndProject
    (orderBy+limit with a full deterministic tiebreak), NOT a
    single-partition window. Returns (piece,)."""
    subs = (
        wf.select(
            "word",
            "freq",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
        )
        .select(
            "word",
            "freq",
            "pos",
            F.explode(
                F.array(*[F.lit(i) for i in range(2, max_piece_len + 1)])
            ).alias("plen"),
        )
        .filter(F.col("pos") + F.col("plen") - 1 <= F.length("word"))
        .select(F.expr("substring(word, pos, plen)").alias("piece"), "freq")
    )
    return (
        subs.groupBy("piece")
        .agg(F.sum("freq").alias("f"))
        .orderBy(F.col("f").desc(), F.col("piece"))
        .limit(vocab_size)
        .select("piece")
    )


def maxmatch_segment(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    max_piece_len: int = 4,
) -> DataFrame:
    """WordPiece-style greedy longest-match (MaxMatch) subword
    segmentation (Song et al. 2021, "Fast WordPiece Tokenization";
    Devlin et al. 2019 inference scheme) — the OTHER standard subword
    tokenizer next to BPE, with a corpus-derived substring vocabulary.
    At each position the longest vocabulary piece wins; single
    characters are the implicit fallback, so segmentation is total.

    SCALE: the segmenter never walks raw text. The corpus collapses to
    the distinct (word, freq) table (the bpe_train discipline — Zipf
    makes it orders of magnitude smaller than the corpus); the greedy
    walk runs once per DISTINCT word as a bounded JVM array fold
    (jump table per position, then ``aggregate`` over at most
    len(word) steps — recursion-free, interpreted HOF, never Python), and
    documents pick up their piece counts by one token equi-join.
    The vocabulary is a broadcast-sized top-K. No Python, no iterative
    jobs, no collect. The DuckDB oracle replays the identical greedy
    walk with a recursive CTE over the same jump table.
    """
    from .text import TOKEN_RE

    toks = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0)
    terms = docs.select("doc_id", F.explode(toks).alias("word"))
    wf = terms.groupBy("word").agg(F.count("*").alias("freq"))
    vocab = maxmatch_vocab(wf, vocab_size, max_piece_len)

    positions = wf.select(
        "word", F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos")
    )
    subs = positions.select(
        "word",
        "pos",
        F.explode(F.array(*[F.lit(i) for i in range(2, max_piece_len + 1)])).alias(
            "plen"
        ),
    ).filter(F.col("pos") + F.col("plen") - 1 <= F.length("word"))
    best = (
        subs.withColumn("piece", F.expr("substring(word, pos, plen)"))
        .join(F.broadcast(vocab), "piece")
        .groupBy("word", "pos")
        .agg(F.max("plen").alias("maxl"))
    )
    lens = (
        positions.join(best, ["word", "pos"], "left")
        .withColumn("bestlen", F.coalesce("maxl", F.lit(1)))
        .groupBy("word")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, bestlen))), x -> x.bestlen)"
            ).alias("lens")
        )
    )
    # Greedy walk as a bounded fold: each step advances >= 1 position, so
    # size(lens) iterations always finish; extra iterations are no-ops.
    word_pieces = lens.select(
        "word",
        F.expr(
            "aggregate(lens, named_struct('pos', 1, 'k', 0), "
            "(acc, x) -> if(acc.pos <= size(lens), "
            "named_struct('pos', acc.pos + element_at(lens, acc.pos), 'k', acc.k + 1), "
            "acc)).k"
        ).alias("n_pieces_w"),
    )
    per_doc = (
        terms.join(word_pieces, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_word_chars"),
            F.sum("n_pieces_w").cast("long").alias("n_pieces"),
        )
    )
    out = docs.select("doc_id").join(per_doc, "doc_id", "left")
    cpp = F.when(F.coalesce(F.col("n_pieces"), F.lit(0)) == 0, F.lit(0.0)).otherwise(
        F.floor(F.col("n_word_chars").cast("double") / F.col("n_pieces") * 1e6 + F.lit(0.5))
        / 1e6
    )
    return out.select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("n_word_chars", F.lit(0)).cast("long").alias("n_word_chars"),
        F.coalesce("n_pieces", F.lit(0)).cast("long").alias("n_pieces"),
        cpp.alias("chars_per_piece"),
    )
